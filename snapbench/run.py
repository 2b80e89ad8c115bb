"""Snapshot benchmark: times `graft.pipeline.RunPipeline.main`, the paper's
raw-export-in, RUN_REPORT.md-out CLI, on a seeded synthetic export.

    python3 snapbench/run.py --workload ingest_8y --seed 1 --seconds 20 --trace 0

Every pipeline run is a fresh JVM launched with the flags of `build.sbt`,
`SPARK_GRAFT_CPUS` set to the usable CPU count and `-Xmx` by the tier-1
`SPARK_DRIVER_MEM` rule. A run generates its input (untimed), launches cold
pipeline runs until `--seconds` have passed (at least one), then two set-up
probes: the same CLI on an empty raw tree, halted once its SparkContext is
ready.

`--trace 0` prints the end-to-end metrics, medians over the run's launches.
`--trace 1` makes one traced pipeline run instead and prints the per-layer
metrics; see NOTES.md for what each one means and which end-to-end metric it
should move. A run fails on a non-zero exit, a stage logged as `failed`, or
artifacts whose canonical digest differs from `expected.json`.

All files go under `.bench_build/` at the repository root; every run is
appended to `.bench_build/runs.jsonl` with its order, host CPU steal and load.
"""

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import canon  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(build.BUILD, "work")
RUN_LOG = os.path.join(build.BUILD, "runs.jsonl")
SETUP_PROBES = 2
MB = 1e6

# Artifacts whose commit (atomic rename) closes each stage, in run order: a
# stage ends when the last of its artifacts appears. The first stage is timed
# from SparkContext ready, so it includes stage 0's unzip. Stages a workload
# does not reach read 0.
STAGE_ARTIFACTS = [
    ("aggregate", [f"joined/apple/daily_{t}.csv" for t in
                   ("cardio", "sleep", "activity", "meds_autoexport", "som_autoexport")]
     + [f"joined/zepp/{t}.csv" for t in
        ("daily_cardio", "daily_sleep", "zepp_daily_features")]),
    ("unify", ["joined/daily_unified.csv"]),
    ("label", ["joined/daily_labeled.csv"]),
    ("segment", ["joined/segment_autolog.csv"]),
    ("ml6", ["cv_summary.json"]),
    ("report", ["RUN_REPORT.md"]),
    ("ml6ext", ["metrics/ml6_extended_summary.csv"]),
]
STAGE_LINE = re.compile(r"^\[stage (\d+)\] (\S+)\s+(\S+)")


def driver_mem():
    """tier-1's SPARK_DRIVER_MEM: half of MemTotal in GiB, clamped to 2-8."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before, after):
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Launcher:
    def __init__(self, cp, jvm_flags):
        self.cp = cp
        self.flags = jvm_flags + [f"-Xmx{driver_mem()}"]
        self.tmp = os.path.join(WORK, "tmp")
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                        SPARK_LOCAL_DIRS=self.tmp)

    def launch(self, raw, out, traced=False, probe=False):
        """One CLI run of RunPipeline; returns its timings and outputs."""
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(self.tmp, exist_ok=True)
        marker = out + ".listener.json"
        if os.path.exists(marker):
            os.remove(marker)
        props = {"spark.extraListeners": "snapbench.BenchListener",
                 "spark.snapbench.out": marker}
        if probe:
            props["spark.snapbench.probe"] = "true"
        if traced:
            props.update({"spark.snapbench.trace": "true",
                          "spark.snapbench.clk_tck": str(os.sysconf("SC_CLK_TCK")),
                          "spark.hadoop.fs.file.impl": "snapbench.CountingLocalFileSystem",
                          "spark.callstack.depth": "200"})
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        cmd = (["java", *self.flags, "-XX:+PerfDisableSharedMem",
                f"-Djava.io.tmpdir={self.tmp}"]
               + [f"-D{k}={v}" for k, v in props.items()]
               + ["-cp", self.cp, "graft.pipeline.RunPipeline",
                  raw, gen.PARTICIPANT, gen.SNAPSHOT, out])
        watcher = ArtifactWatcher(out) if traced else None
        t0 = time.time()
        with open(out + ".stderr.log", "w") as log:
            p = subprocess.Popen(cmd, cwd=WORK, env=self.env, stdout=subprocess.PIPE,
                                 stderr=log, text=True)
        if watcher:
            watcher.start()
        stdout = p.stdout.read()
        _, status, ru = os.wait4(p.pid, 0)
        t1 = time.time()
        p.returncode = os.waitstatus_to_exitcode(status)
        p.stdout.close()
        if watcher:
            watcher.stop()
        r = {"rc": p.returncode, "stages": [m.groups() for m in
                                             map(STAGE_LINE.match, stdout.splitlines()) if m]}
        try:
            with open(marker) as f:
                lj = json.load(f)
        except (OSError, ValueError):
            r["error"] = f"exit {p.returncode}, no listener record"
            return r
        ready = lj["ready_ms"] / 1e3
        r.update(listener=lj, setup_s=ready - t0, pipeline_s=t1 - ready,
                 cpu_s=ru.ru_utime + ru.ru_stime - lj["cpu_ready_s"],
                 peak_rss_mb=ru.ru_maxrss * 1024 / MB)
        if watcher:
            r["artifact_s"] = {k: v - ready for k, v in watcher.seen.items()}
        if p.returncode != 0:
            r["error"] = f"exit {p.returncode}"
        return r


class ArtifactWatcher(threading.Thread):
    """Polls the output tree for the stage-closing artifacts. Artifacts are
    renamed into place, so the first time one exists is its commit time."""

    def __init__(self, out):
        super().__init__(daemon=True)
        self.paths = {rel: os.path.join(out, rel)
                      for _, rels in STAGE_ARTIFACTS for rel in rels}
        self.seen = {}
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.02):
            now = time.time()
            for rel, path in self.paths.items():
                if rel not in self.seen and os.path.exists(path):
                    self.seen[rel] = now

    def stop(self):
        self.done.set()
        self.join()


def check_pipeline(r, workload, out):
    """Fail the run on a bad exit, a failed stage or an output drift."""
    if "error" in r:
        return r["error"]
    failed = [s for s in r["stages"] if s[2] == "failed"]
    if failed or not r["stages"]:
        return f"stages failed: {failed or 'no stage log'}"
    got = canon.tree_digest(out)
    want = canon.expected().get(workload)
    if want is None:
        return f"no expected digest recorded for {workload}"
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"digest mismatch: {bad}" if bad else None


def prior_untraced_median(workload):
    vals = []
    if os.path.exists(RUN_LOG):
        with open(RUN_LOG) as f:
            for line in f:
                rec = json.loads(line)
                if rec["workload"] == workload and rec["trace"] == 0:
                    vals += rec["pipeline_s"]
    return statistics.median(vals) if vals else None


def end_to_end(pipes, setups, output_bytes):
    med = lambda k: statistics.median(r[k] for r in pipes)  # noqa: E731
    return {"pipeline_s": (med("pipeline_s"), "s"),
            "setup_s": (statistics.median(setups), "s"),
            "cpu_s": (med("cpu_s"), "s"),
            "output_mb": (statistics.median(output_bytes) / MB, "MB")}


def per_layer(r, size, untraced_median):
    lj = r["listener"]
    xml = [v for k, v in lj["read_bytes"].items() if k.endswith("/export.xml")]
    jobs = lj["jobs"]
    ml_fits = r["ml_fits"]
    m = {"ingest.xml_passes": (sum(xml) / size["xml_bytes"], "ratio"),
         "ingest.xml_read_mb": (sum(xml) / MB, "MB"),
         "ingest.task_cpu_s": (lj["xml_task_cpu_s"], "s"),
         "ingest.unzip_s": (lj["unzip_s"], "s"),
         "ml.jobs": (jobs.get("ml", 0), "count"),
         "ml.jobs_per_fit": (jobs.get("ml", 0) / ml_fits if ml_fits else 0.0, "count"),
         "ml.task_cpu_s": (lj["layer_task_cpu_s"].get("ml", 0.0), "s"),
         "spark.jobs": (sum(jobs.values()), "count"),
         "spark.tasks": (lj["tasks"], "count"),
         "spark.task_cpu_s": (lj["task_cpu_s"], "s"),
         "spark.shuffle_mb": (lj["shuffle_bytes"] / MB, "MB"),
         "spark.spill_mb": (lj["spill_bytes"] / MB, "MB"),
         "jvm.jit_cpu_s": (lj["jit_cpu_s"], "s"),
         "jvm.gc_s": (lj["gc_s"], "s"),
         "jvm.nontask_cpu_s": (r["cpu_s"] - lj["task_cpu_s"], "s"),
         "jvm.peak_rss_mb": (r["peak_rss_mb"], "MB")}
    for layer in ("ml", "pipeline", "operators", "core"):
        m[f"{layer}.driver_busy_s"] = (lj["driver_busy_s"].get(layer, 0.0), "s")
        m[f"{layer}.driver_wait_s"] = (lj["driver_wait_s"].get(layer, 0.0), "s")
        if layer != "ml":
            m[f"{layer}.jobs"] = (jobs.get(layer, 0), "count")
    prev = 0.0
    for stage, rels in STAGE_ARTIFACTS:
        t = max((r["artifact_s"][rel] for rel in rels if rel in r["artifact_s"]),
                default=None)
        m[f"stage.{stage}_s"] = (t - prev if t is not None else 0.0, "s")
        prev = t if t is not None else prev
    m["trace.pipeline_s"] = (r["pipeline_s"], "s")
    m["trace.overhead_s"] = (r["pipeline_s"] - untraced_median, "s")
    return m


def ml_fit_count(out):
    """Model fits the run made: one per fold of the primary family plus one
    per (family, fold) row of the extended summary."""
    fits = 0
    cv = os.path.join(out, "cv_summary.json")
    if os.path.exists(cv):
        with open(cv) as f:
            fits += len(json.load(f).get("folds", []))
    ext = os.path.join(out, "metrics/ml6_extended_summary.csv")
    if os.path.exists(ext):
        with open(ext) as f:
            fits += sum(1 for _ in f) - 1
    return fits


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(gen.SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp, jvm = build.build()
    except build.BuildError as e:
        sys.exit(f"snapbench: {e}")

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    raw_root = os.path.join(WORK, "in")
    size = gen.generate(a.workload, a.seed, raw_root)
    raw = os.path.join(raw_root, "raw")
    empty = os.path.join(WORK, "empty")
    os.makedirs(empty)
    out = os.path.join(WORK, "out")
    launcher = Launcher(cp, jvm)

    load0, cpu0, start = loadavg(), cpu_times(), time.time()
    runs, errors, pipes, setups, out_bytes = [], [], [], [], []

    def pipeline(traced=False):
        r = launcher.launch(raw, out, traced)
        err = check_pipeline(r, a.workload, out)
        r.update(kind="traced" if traced else "pipeline", error=err)
        runs.append(r)
        if err:
            errors.append(err)
        else:
            r["ml_fits"] = ml_fit_count(out)
            out_bytes.append(dir_bytes(out))
        return r

    if a.trace:
        untraced = prior_untraced_median(a.workload)
        if untraced is None:
            r = pipeline()
            untraced = r.get("pipeline_s")
        traced = pipeline(traced=True)
    else:
        t_end = time.time() + a.seconds
        while True:
            r = pipeline()
            if r["error"]:
                break
            pipes.append(r)
            if time.time() >= t_end:
                break
        for _ in range(SETUP_PROBES):
            r = launcher.launch(empty, os.path.join(WORK, "probe"), probe=True)
            r.update(kind="probe", error=r.get("error"))
            runs.append(r)
            if r["error"]:
                errors.append(f"probe: {r['error']}")
        setups = [r["setup_s"] for r in runs if "setup_s" in r]

    noise = {"steal_pct": steal_pct(cpu0, cpu_times()), "loadavg_start": load0,
             "loadavg_end": loadavg(), "cpus": len(os.sched_getaffinity(0))}
    order = sum(1 for _ in open(RUN_LOG)) + 1 if os.path.exists(RUN_LOG) else 1
    record = {"order": order, "workload": a.workload, "seed": a.seed,
              "trace": a.trace, "started": start, "wall_s": time.time() - start,
              "host": noise, "input": size, "errors": errors,
              "pipeline_s": [r["pipeline_s"] for r in pipes],
              "launches": [{k: r.get(k) for k in ("kind", "setup_s", "pipeline_s",
                                                   "cpu_s", "peak_rss_mb", "error")}
                           for r in runs]}

    metrics = {}
    if not errors:
        if a.trace:
            metrics = per_layer(traced, size, untraced)
        else:
            metrics = end_to_end(pipes, setups, out_bytes)
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(RUN_LOG, "a") as f:
        f.write(json.dumps(record) + "\n")
    print("snapbench-run " + json.dumps(record))
    for e in errors:
        print(f"snapbench: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": len(runs),
                      "failed": sum(1 for r in runs if r["error"]),
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
