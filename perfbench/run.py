"""Benchmark of the shipped point-in-time featurize and curate jobs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root; the run writes nothing outside it (when
the root's path is longer than 46 characters, JVM temp files go to
the system temp directory, see ``Run.env``).  Workloads (see BENCHMARK.json):

- ``job_featurize``: ``jobs/featurize.py`` in a fresh ``python``
  process at its own session defaults, on seeded turns + state
  (``probe.py job``, which checks the output in the same process once
  the job has ended).
- ``flagship_noop``: ``plans.flagship.flagship_vectors -> noop`` in a
  warm session (``probe.py flagship``).  Its traced run also measures
  the ``jobs/curate.py`` stage chain (textstats, dedup) on a seeded
  corpus.

Load model: closed loop, one client.  One job or materialization runs
at a time, at the child's default master (``local[*]``), from a single
driver process; a job is timed from process start to the end of its
``main`` (its ``spark.stop()`` included).  Each run repeats the measured
unit until ``--seconds`` have passed (at least once; flagship passes at
least three times) and reports medians.

Every run (outside the timed region) checks the outputs against a
reference built from the public operators in ``probe.py``; a run whose
check fails counts in ``failed``.  ``--trace 1`` repeats the workload
with Spark's event log on (a benchmark-owned ``SPARK_CONF_DIR``) and
times the layer prefixes in ``probe.py``; ``ledger.py`` folds the logs
into the per-layer metrics.

The last stdout line is the result object; the line before it is a
detail record (host, raw walls, ledger reconciliation, failures).
Per-layer metrics of a layer the workload does not run read 0 and are
listed under ``not_on_workload`` in the detail record.
All files go under ``.perfbench_work/`` in the current directory,
which is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402

#: sizes and job flags per workload.  The bucket flags are below the
#: job's defaults (256 buckets in groups of 32) so that every run fits
#: the benchmark's time budget; they keep two bucket groups, so the
#: per-group upstream recompute still shows in pipeline.passes.
WORKLOADS = {
    "job_featurize": {"turns": 20_000, "num_buckets": 8, "group_size": 4},
    "flagship_noop": {"turns": 100_000},
}
#: corpus size for the curate-chain layers of the traced flagship run
CURATE_DOCS = 1_000
#: a run that has not finished by then is killed and reports no result
RUN_LIMIT_S = 172.0
SOCKET_DIR_MAX = 107 - len("/.00000000-0000-0000-0000-000000000000.sock")
REQUIRED = ("jobs/featurize.py", "bench.py", "aloha_spark/plans/flagship.py")

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "setup_s": "s",
              "peak_pss_mb": "MB"}
PER_LAYER = {
    "pipeline.passes": "count",
    "pipeline.rows_to_python_per_row_out": "ratio",
    "pipeline.bytes_to_python": "bytes",
    "pipeline.prefix_s": "s",
    "pipeline.python_run_s": "s",
    "pipeline.bytes_from_python": "bytes",
    "windows.prefix_s": "s",
    "windows.shuffle_bytes": "bytes",
    "windows.spill_bytes": "bytes",
    "asof.prefix_s": "s",
    "asof.shuffle_bytes": "bytes",
    "lineage.groups": "count",
    "lineage.write_s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_per_row": "bytes",
    "lineage.task_commit_s": "s",
    "lineage.readback_s": "s",
    "lineage.verify_s": "s",
    "textstats.run_s": "s",
    "dedup.exact_s": "s",
    "dedup.neardup_s": "s",
    "dedup.neardup_pairs": "count",
    "dedup.spark_jobs": "count",
    "session.start_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.stages": "count",
    "exec.tasks": "count",
    "host.nproc": "count",
    "host.channel_jvm_ratio": "ratio",
}
PY_NODE = "MapInArrow"          # the featurize stage's plan node


class BenchError(RuntimeError):
    """A child process failed: the run is reported as failed."""


# ---------------------------------------------------------------------------
# processes

def _set_subreaper() -> None:
    """Become the child subreaper, so a JVM or PySpark daemon orphaned
    by its parent is re-parented here and can be found and reaped."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(36, 1, 0, 0, 0)          # PR_SET_CHILD_SUBREAPER


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_all(timeout: float = 20.0) -> None:
    """Kill and wait for every process this one started, directly or
    not (JVMs, PySpark daemons and workers included)."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants(os.getpid())
        while True:                      # collect exited children
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise BenchError(f"processes did not exit: {pids}")
        time.sleep(0.1)


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Peak PSS of a process tree, sampled every ``period`` seconds
    while ``active`` is set (each sample scans /proc: a shorter period
    takes CPU from the measured run)."""

    def __init__(self, pid: int, period: float = 0.5):
        self.pid, self.period, self.peak_kb = pid, period, 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if self.active.is_set():
                tree = [self.pid] + descendants(self.pid)
                self.peak_kb = max(self.peak_kb,
                                   sum(_pss_kb(p) for p in tree))

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def run_child(argv: list, env: dict, cwd: str, log: str,
              timeout: float) -> tuple[float, float, str]:
    """Run one child to completion: (seconds from its start to its
    ``PHASE done`` line, peak PSS in MB from its ``PHASE timed`` line to
    its ``PHASE done`` line, last stdout line)."""
    t0 = time.perf_counter()
    done = None
    with open(log, "w") as err:
        proc = subprocess.Popen(argv, env=env, cwd=cwd, stdout=subprocess.PIPE,
                                stderr=err, text=True)
    sampler = PssSampler(proc.pid)
    last = ""
    timer = threading.Timer(timeout, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            line = line.strip()
            if line == "PHASE timed":
                sampler.active.set()
            elif line == "PHASE done":
                done = time.perf_counter() - t0
                sampler.active.clear()
            elif line:
                last = line
        rc = proc.wait()
    finally:
        timer.cancel()
        peak = sampler.close()
        proc.stdout.close()
        reap_all()
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-2000:]
        raise BenchError(f"{' '.join(argv[1:3])} exited {rc}: {tail}")
    if done is None:
        raise BenchError(f"{' '.join(argv[1:3])} printed no PHASE done")
    return done, peak, last


# ---------------------------------------------------------------------------
# workloads

class Run:
    """One benchmark run: set-up, measured repetitions, output checks
    and (traced) layer metrics; everything under ``work``."""

    def __init__(self, root: str, name: str, seed: int, seconds: float,
                 trace: bool):
        self.root, self.name, self.seed = root, name, seed
        self.seconds, self.trace = seconds, trace
        self.cfg = WORKLOADS[name]
        self.work = os.path.join(root, ".perfbench_work")
        self.inputs = os.path.join(self.work, "in")
        self.spec = os.path.join(self.work, "spec.json")
        self.local = os.path.join(self.work, "local")
        self.cwd = os.path.join(self.work, "cwd")
        self.tmp = os.path.join(self.work, "t")
        self.detail: dict = {"workload": name, "seed": seed,
                             "trace": trace, "problems": []}
        self.mega = ""
        self.deadline = time.monotonic() + RUN_LIMIT_S

    def env(self, event_dir: str | None = None) -> dict:
        """Child environment: repository on PYTHONPATH, per-run
        SPARK_LOCAL_DIRS, and a SPARK_CONF_DIR that turns the event log
        on when ``event_dir`` is given (otherwise none, so Spark uses
        its defaults)."""
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in [env.get("PYTHONPATH")] if p])
        env["SPARK_LOCAL_DIRS"] = self.local
        # JVM and Python temp files (native libraries, artifacts, the
        # Python workers' unix socket) stay in the run's directory too,
        # unless the socket path "<tmp>/.<uuid>.sock" would pass the
        # 107-byte unix socket path limit; no JVM perf-data file
        opts = [env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]
        if len(self.tmp) <= SOCKET_DIR_MAX:
            env["TMPDIR"] = self.tmp
            opts.append(f"-Djava.io.tmpdir={self.tmp}")
        env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, opts))
        env.pop("SPARK_CONF_DIR", None)
        if event_dir:
            conf = event_dir + ".conf"
            os.makedirs(conf)
            os.makedirs(event_dir)
            with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
                f.write("spark.eventLog.enabled true\n"
                        f"spark.eventLog.dir file://{event_dir}\n"
                        "spark.eventLog.compress false\n"
                        "spark.eventLog.rolling.enabled false\n")
            env["SPARK_CONF_DIR"] = conf
        return env

    def reset_local_dirs(self) -> None:
        """Empty SPARK_LOCAL_DIRS, the temp and the working directory of
        the children."""
        for d in (self.local, self.tmp, self.cwd):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)

    def probe(self, mode: str, args: list, tag: str):
        """Run ``probe.py mode`` once: (its result, seconds to its
        ``PHASE done``, peak PSS in MB, event-log dir or None)."""
        argv = [sys.executable, os.path.join(HERE, "probe.py"), mode,
                "--inputs", self.inputs, "--spec", self.spec] + args
        ev = os.path.join(self.work, f"events-{tag}") if self.trace else None
        self.reset_local_dirs()
        wall, peak, last = run_child(argv, self.env(ev), self.cwd,
                                     os.path.join(self.work, f"{tag}.log"),
                                     self.deadline - time.monotonic())
        print(f"perfbench: {tag} {wall:.1f} s", file=sys.stderr)
        res = json.loads(last)
        self.detail.setdefault("probe_s", {k: v for k, v in res.items()
                                           if k.endswith("_s")})
        self.detail["problems"] += res["problems"]
        self.detail.setdefault("host", res["host"])
        return res, wall, peak, ev

    def setup(self) -> float:
        """Generate the inputs; seconds taken."""
        from aloha_spark.plans.flagship import FLAGSHIP_SPEC

        with open(self.spec, "w") as f:
            json.dump(FLAGSHIP_SPEC, f)
        t0 = time.perf_counter()
        turns, state, self.mega = gen.make_turns(self.cfg["turns"], self.seed)
        gen.write_table(turns, os.path.join(self.inputs, "turns"), 8)
        gen.write_table(state, os.path.join(self.inputs, "state"), 8)
        if self.trace and self.name == "flagship_noop":
            gen.write_table(gen.make_docs(CURATE_DOCS, self.seed),
                            os.path.join(self.inputs, "docs"), 8)
        self.detail["gen_s"] = time.perf_counter() - t0
        return self.detail["gen_s"]

    # -- job_featurize -------------------------------------------------------
    def run_job(self) -> dict:
        """Job runs until --seconds have passed (one when traced), each
        in its own process, checked in that process after the job."""
        gen_s = self.setup()
        reps = []          # (result, wall_s, peak_pss_mb, out, events, ms)
        t_end = time.perf_counter() + self.seconds
        while not reps or (time.perf_counter() < t_end and not self.trace):
            out = os.path.join(self.work, f"out{len(reps)}")
            args = ["--job", os.path.join(self.root, "jobs", "featurize.py"),
                    "--out", out,
                    "--lineage", os.path.join(self.work,
                                              f"lineage{len(reps)}"),
                    "--num-buckets", str(self.cfg["num_buckets"]),
                    "--group-size", str(self.cfg["group_size"])]
            if self.trace:
                args += ["--trace",
                         "--trace-out", os.path.join(self.work, "trace_out"),
                         "--trace-lineage", os.path.join(self.work,
                                                         "trace_lineage")]
            launch_ms = time.time() * 1000
            res, wall, peak, ev = self.probe("job", args, f"job{len(reps)}")
            reps.append((res, wall, peak, out, ev, launch_ms))
        walls = [r[1] for r in reps]
        rows = reps[0][0]["reference"]["rows"]
        self.detail.update({"walls": walls, "attempted": len(reps),
                            "reference": reps[0][0]["reference"]})
        if self.trace:
            return self.job_layers(reps[0], rows)
        med = statistics.median(walls)
        return {"wall_s": med, "rows_per_s": rows / med,
                "setup_s": gen_s + statistics.median(
                    r[0]["session_s"] + r[0]["reference_s"] for r in reps),
                "peak_pss_mb": statistics.median(r[2] for r in reps)}

    def job_layers(self, rep, rows: int) -> dict:
        res, wall, _, out, ev, launch_ms = rep
        # two applications log to ``ev``: the job, then the check
        events, pev = _event_logs(ev)
        job = ledger.fold(events)
        self.reconcile(job, wall)
        files, nbytes = _data_files(out)
        started = [e["Timestamp"] for e in events
                   if e["Event"] == "SparkListenerBlockManagerAdded"]
        m = dict(res["layers"])
        m.update(_exec_metrics(job))
        m.update(_python_metrics(job, rows))
        m.update(_prefix_metrics(pev))
        m.update(_host_metrics(res["host"]))
        m.update({
            "lineage.files_written": files,
            "lineage.bytes_per_row": nbytes / rows,
            "lineage.task_commit_s": job.metric("task commit time") / 1e3,
            "lineage.readback_s": _readback_s(
                pev, res["spans"]["lineage.write"],
                os.path.join(self.work, "trace_out")),
            "lineage.verify_s": res["verify_s"],
            "session.start_s": (min(started) - launch_ms) / 1e3,
        })
        return m

    # -- flagship_noop -------------------------------------------------------
    def run_flagship(self) -> dict:
        gen_s = self.setup()
        args = ["--mega", self.mega]
        # a traced run reports no end-to-end metric: MIN_PASSES passes
        timed = ["--trace", "--seconds", "0"] if self.trace \
            else ["--seconds", str(self.seconds)]
        res, _, peak, ev = self.probe("flagship", args + timed, "flagship")
        walls = res["walls"]
        self.detail.update({"walls": walls, "reference": res["reference"],
                            "attempted": len(walls)})
        med = statistics.median(walls)
        if not self.trace:
            return {"wall_s": med, "rows_per_s": res["rows"] / med,
                    "setup_s": gen_s + res["session_s"] + res["warmup_s"]
                    + res["reference_s"],
                    "peak_pss_mb": peak}
        (events,) = _event_logs(ev)
        rep = ledger.fold(events, ledger.describe("pb:rep0"))
        self.reconcile(rep, walls[0])
        # share of the pass's executor time spent in the featurize stage
        self.detail["python_share"] = rep.metric(
            "time to run Python workers", PY_NODE) / 1e3 / rep.run_s
        m = dict(res["layers"])
        m.update(_exec_metrics(rep))
        m.update(_python_metrics(rep, res["rows"]))
        m.update(_prefix_metrics(events))
        m.update(_host_metrics(res["host"]))
        m["session.start_s"] = res["session_s"]
        m["dedup.spark_jobs"] = ledger.fold(
            events, ledger.describe("pb:dedup.neardup")).jobs
        return m

    def reconcile(self, led: ledger.Ledger, wall: float) -> None:
        rec = led.reconcile(wall, os.cpu_count())
        self.detail["reconcile"] = rec
        if not rec["ok"]:
            self.detail["problems"].append(
                f"ledger does not reconcile with the wall: {rec}")


# ---------------------------------------------------------------------------
# metric helpers

def _event_logs(d: str) -> list:
    """The event logs in ``d``, each a list of events, in the order their
    applications started."""
    logs = [ledger.read_events(os.path.join(d, f)) for f in os.listdir(d)]
    if any(f.endswith(".inprogress") for f in os.listdir(d)):
        raise BenchError(f"unfinished event log in {d}")
    return sorted(logs, key=lambda ev: min(
        e["Timestamp"] for e in ev
        if e["Event"] == "SparkListenerApplicationStart"))


def _data_files(out: str) -> tuple[int, int]:
    n = size = 0
    for base, _, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def _exec_metrics(led: ledger.Ledger) -> dict:
    return {"exec.run_s": led.run_s, "exec.cpu_s": led.cpu_s,
            "exec.gc_s": led.gc_s, "exec.shuffle_bytes": led.shuffle_bytes,
            "exec.spill_bytes": led.spill_bytes, "exec.stages": led.stages,
            "exec.tasks": led.tasks}


def _python_metrics(led: ledger.Ledger, rows_out: int) -> dict:
    return {
        "pipeline.passes": led.stages_with("time to run Python workers",
                                           PY_NODE),
        "pipeline.rows_to_python_per_row_out":
            led.metric("number of output rows", PY_NODE) / max(rows_out, 1),
        "pipeline.bytes_to_python": led.metric(
            "data sent to Python workers", PY_NODE),
    }


def _prefix_metrics(events: list) -> dict:
    """Layer counters of the timed prefix materializations."""
    w = ledger.fold(events, ledger.describe("pb:windows"))
    a = ledger.fold(events, ledger.describe("pb:asof"))
    p = ledger.fold(events, ledger.describe("pb:pipeline"))
    return {
        "windows.shuffle_bytes": w.shuffle_bytes,
        "windows.spill_bytes": w.spill_bytes,
        "asof.shuffle_bytes": a.shuffle_bytes,
        "pipeline.python_run_s":
            p.metric("time to run Python workers", PY_NODE) / 1e3,
        "pipeline.bytes_from_python":
            p.metric("data returned from Python workers", PY_NODE),
    }


def _readback_s(events: list, span, out: str) -> float:
    """Seconds of the SQL executions inside ``span`` (the timed
    ``write_with_lineage`` call) that read ``out`` back: the lineage
    rows are aggregated from the files just written."""
    lo, hi, _ = span
    scan = f"InMemoryFileIndex [file:{out}]"
    return sum((e["end"] - e["start"]) / 1e3
               for e in ledger.sql_executions(events)
               if lo <= e["start"] <= hi and scan in e["plan"])


def _host_metrics(host: dict) -> dict:
    return {"host.nproc": host["nproc"],
            "host.channel_jvm_ratio": host.get("channel_jvm_ratio", 0)}


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)

    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(root,
                                                                      f))]
    if missing:
        print(f"perfbench: not a repository checkout (missing "
              f"{', '.join(missing)}); run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    _set_subreaper()
    # a terminated run still reaps its children and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(root, a.workload, a.seed, a.seconds, bool(a.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    try:
        metrics = run.run_flagship() if a.workload == "flagship_noop" \
            else run.run_job()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        reap_all()
        shutil.rmtree(run.work, ignore_errors=True)
    units = PER_LAYER if a.trace else END_TO_END
    missing = [k for k in units if k not in metrics]
    for k in missing:
        metrics[k] = 0                  # layer not on this workload
    attempted = run.detail.get("attempted", 1)
    failed = attempted if run.detail["problems"] else 0
    run.detail["failed_frac"] = failed / attempted
    run.detail["not_on_workload"] = missing
    print(json.dumps(run.detail, default=str))
    print(json.dumps({
        "correct": not run.detail["problems"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
