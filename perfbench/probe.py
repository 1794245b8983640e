"""Benchmark-side Spark child process.

``run.py`` starts this script in a fresh ``python`` process (repository
root on ``PYTHONPATH``).  Two modes:

- ``job``: runs ``jobs/featurize.py`` as ``python jobs/featurize.py``
  would (its own session defaults), between ``PHASE timed`` and
  ``PHASE done`` lines, so the parent times the job from process start
  to the job's end.  The job stops its session; this process then
  starts a new one in the same JVM for the per-seed reference, composed
  from the public operators (windows -> ``asof_join`` ->
  ``FeaturePipeline.to_sparse_vectors``), the zero-leakage assertion
  and the check of the job's output.
- ``flagship``: the warm-session proxy ``plans.flagship.flagship_vectors
  -> noop``, timed in a loop between ``PHASE timed`` and ``PHASE done``,
  and checked against the same reference.

With ``--trace``, ``job`` also times the public-function prefixes and a
``write_with_lineage`` call with the job's arguments, and ``flagship``
the prefixes and the ``jobs/curate.py`` stage chain; every output check
times its ``verify_lineage`` call.  Each timed call runs under the job
description ``pb:<label>`` that ``ledger.py`` folds the event log by.

The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import runpy
import sys
import time

KEY, ORDER, ON = "conv_id", "turn_idx", "ts"
KEEP = [KEY, ORDER, ON]
LEAK_TAG = "LEAKED_FROM_FUTURE"
#: fewest timed flagship passes in a run, however short --seconds is
MIN_PASSES = 3
# what --scrub-pii must leave no trace of
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9()\-. ]{6,}[0-9]"


def session():
    """The jobs' own session settings (see jobs/featurize.py), so layer
    timings measure what the job runs."""
    from pyspark.sql import SparkSession

    from aloha_spark.tuning import arrow_batch_rows, worker_channel_confs

    spark = (SparkSession.builder.appName("perfbench-probe")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config(map=worker_channel_confs())
             .getOrCreate())
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(arrow_batch_rows(spark.sparkContext.defaultParallelism)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Timer:
    """Times calls under a Spark job description; keeps epoch spans so
    SQL executions can be matched to the call that ran them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict = {}

    def __call__(self, label: str, fn):
        self.sc.setJobDescription(f"pb:{label}")
        t0, w0 = time.perf_counter(), time.time()
        try:
            out = fn()
        finally:
            self.sc.setJobDescription(None)
        dt = time.perf_counter() - t0
        self.spans[label] = (int(w0 * 1000), int(time.time() * 1000) + 1, dt)
        return out, dt


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum_col(cols):
    """The lineage table's order-insensitive checksum over ``cols``:
    bit_xor of xxhash64 over every column cast to string."""
    from pyspark.sql import functions as F

    return F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in cols]))


def checksum(df) -> tuple[int, int]:
    """(rows, checksum) of every column of ``df``."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), checksum_col(df.columns)).first()
    return int(r[0]), int(r[1] or 0)


def windows(turns):
    from aloha_spark.operators.windows import (
        with_backfill, with_lag_lead, with_session_id, with_ts_delta)

    x = with_lag_lead(turns, ["text"], by=KEY, order=(ORDER,), lead=False)
    x = with_backfill(x, ["tool"], by=KEY, order=(ORDER,))
    x = with_ts_delta(x, ts=ON, by=KEY, order=(ORDER,))
    return with_session_id(x, ts=ON, by=KEY, order=[ORDER],
                           gap_seconds=1800.0)


def featurize_reference(spark, inputs: str, spec: dict) -> dict:
    """Reference rows/checksum for the featurize output, plus the
    zero-leakage check on the as-of join that feeds it."""
    from pyspark.sql import functions as F

    from aloha_spark.operators.asof import asof_join
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec

    turns = spark.read.parquet(f"{inputs}/turns")
    state = spark.read.parquet(f"{inputs}/state") \
        .withColumn("state_ts", F.col(ON))
    x = asof_join(windows(turns), state, on=ON, by=KEY,
                  state_cols=["state_score", "state_tag", "state_ts"])
    # one pass: the state columns ride through the featurize stage
    # untouched, and the checksum covers only the job's output columns
    vec = FeaturePipeline(PipelineSpec.from_json(json.dumps(spec))) \
        .to_sparse_vectors(x, keep_cols=KEEP + ["state_tag", "state_ts"])
    out_cols = [c for c in vec.columns if c not in ("state_tag", "state_ts")]
    r = vec.agg(F.count(F.lit(1)),
                F.sum(((F.col("state_tag") == LEAK_TAG)
                       | (F.col("state_ts") > F.col(ON))).cast("int")),
                F.count("state_ts"), checksum_col(out_cols)).first()
    return {"rows": int(r[0]), "checksum": int(r[3] or 0),
            "leaked": int(r[1] or 0), "attached": int(r[2])}


def leakage_problems(ref: dict) -> list:
    if ref["leaked"]:
        return [f"{ref['leaked']} turns see state from their future"]
    if not ref["attached"]:
        return ["the as-of join attached no state: leakage check is vacuous"]
    return []


def check_lineage(spark, out: str, lineage: str, ts_col: str,
                  num_buckets: int, ref: dict, timer: Timer) -> list:
    """Problems with one job run's output (empty list = correct)."""
    from aloha_spark.plans.lineage import verify_lineage

    rows = spark.read.parquet(lineage) \
        .select("bucket", "row_count", "checksum").collect()
    problems = []
    buckets = sorted(r[0] for r in rows)
    if buckets != list(range(num_buckets)):
        problems.append(f"lineage buckets not recorded exactly once: "
                        f"{len(buckets)} rows, {len(set(buckets))} distinct")
    total = sum(r[1] for r in rows)
    if total != ref["rows"]:
        problems.append(f"lineage row_count sums to {total}, "
                        f"reference {ref['rows']}")
    xor = 0
    for r in rows:
        xor ^= r[2] or 0
    if xor != ref["checksum"]:
        problems.append(f"lineage checksum {xor} != reference "
                        f"{ref['checksum']}")
    bad, _ = timer("lineage.verify", lambda: verify_lineage(
        spark, out, lineage, ts_col=ts_col).count())
    if bad:
        problems.append(f"verify_lineage returned {bad} rows")
    return problems


def host_record(spark, probe: bool) -> dict:
    """nproc, MemTotal and versions; with ``probe`` also the
    channel/JVM ratio of ``bench.host_probe`` (about 2-3 on a clean
    host, 6 or more when the JVM<->Python channel is degraded)."""
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    rec = {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
           "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
           "java": jvm.java.lang.System.getProperty("java.version")}
    if probe:
        from bench import host_probe

        rec["channel_jvm_ratio"] = \
            host_probe(spark, reps=1)["channel_jvm_ratio"]
    return rec


def run_job(a) -> dict:
    """Run the featurize job in this process, then check its output."""
    from aloha_spark.operators.asof import asof_join
    from aloha_spark.plans.lineage import write_with_lineage
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec

    sys.argv = [a.job, "--turns", f"{a.inputs}/turns",
                "--state", f"{a.inputs}/state", "--spec", a.spec,
                "--out", a.out, "--lineage", a.lineage,
                "--num-buckets", str(a.num_buckets),
                "--group-size", str(a.group_size)]
    print("PHASE timed", flush=True)
    runpy.run_path(a.job, run_name="__main__")
    print("PHASE done", flush=True)

    spark, timer, res = start(a)
    # the reference and the check are not timed as the job: their tiny
    # shuffles run at 2 x defaultParallelism partitions, not 200
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(2 * spark.sparkContext.defaultParallelism))
    with open(a.spec) as f:
        spec = json.load(f)
    ref, res["reference_s"] = timer("reference", lambda: featurize_reference(
        spark, a.inputs, spec))
    res["reference"] = ref
    res["problems"] = leakage_problems(ref) + check_lineage(
        spark, a.out, a.lineage, ON, a.num_buckets, ref, timer)
    res["verify_s"] = timer.spans["lineage.verify"][2]
    if a.trace:
        # layer prefixes with the job's own arguments and session
        # defaults (no salting: the job runs without --hot-key-threshold)
        spark.conf.unset("spark.sql.shuffle.partitions")
        turns = spark.read.parquet(f"{a.inputs}/turns")
        state = spark.read.parquet(f"{a.inputs}/state")
        w = windows(turns)
        j = asof_join(w, state, on=ON, by=KEY, salt_buckets=16)
        pipe = FeaturePipeline(PipelineSpec.from_json(json.dumps(spec)))
        vec = pipe.to_sparse_vectors(j, keep_cols=KEEP)
        layer = {}
        for name, df in (("windows", w), ("asof", j), ("pipeline", vec)):
            layer[f"{name}.prefix_s"] = timer(name, lambda: noop(df))[1]
        # the job's write: repartition, featurize, bucketed lineage write
        par = spark.sparkContext.defaultParallelism
        out = pipe.to_sparse_vectors(j.repartition(par * 2), keep_cols=KEEP)
        rep, write_s = timer("lineage.write", lambda: write_with_lineage(
            out, a.trace_out, a.trace_lineage, key=KEY, ts_col=ON,
            num_buckets=a.num_buckets, group_size=a.group_size))
        layer.update({"lineage.write_s": write_s,
                      "lineage.groups": rep.groups})
        res["layers"] = layer
        res["spans"] = timer.spans
    # the host probe costs tens of seconds on a degraded host: only the
    # traced job_featurize run pays for it
    return finish(spark, res, probe_host=a.trace)


def curate_layers(spark, inputs: str, timer: Timer) -> tuple[dict, list]:
    """Layer timings of the curate job's stage chain, composed from the
    public operators as jobs/curate.py composes them for ``--min-quality
    0.5 --langs en --scrub-pii --exact-dedup --neardup-threshold 0.7``,
    each prefix materialized to noop: (layers, problems).  The chain's
    output is checked: no e-mail or phone survives the scrub, no two
    rows share content.

    Shuffles run at 2 x defaultParallelism partitions instead of the
    session default of 200: at benchmark corpus sizes the default makes
    the near-dup components loop cost minutes of per-task overhead."""
    from pyspark.sql import functions as F

    from aloha_spark.operators.dedup import (
        dedup_keep_canonical, exact_dedup_keep, minhash_dedup_pairs)
    from aloha_spark.operators.textstats import (
        with_lang_id, with_pii_scrubbed, with_quality_score)

    spark.conf.set("spark.sql.shuffle.partitions",
                   str(2 * spark.sparkContext.defaultParallelism))
    d = spark.read.parquet(f"{inputs}/docs")
    x = with_quality_score(d, "text").where(F.col("quality_score") >= 0.5)
    x = with_lang_id(x, "text").where(F.col("lang_guess").isin(["en"]))
    x = with_pii_scrubbed(x, "text").drop("text") \
        .withColumnRenamed("text_scrubbed", "text")
    layer = {"textstats.run_s": timer("textstats", lambda: noop(x))[1]}
    x = exact_dedup_keep(x, cols=["text"], id_col="doc_id")
    layer["dedup.exact_s"] = timer("dedup.exact", lambda: noop(x))[1]

    def neardup():
        pairs = minhash_dedup_pairs(
            x.select("doc_id", "text"), id_col="doc_id", text="text",
            threshold=0.7, num_hashes=64, bands=16, shingle_n=3)
        kept = dedup_keep_canonical(x, pairs, id_col="doc_id").persist()
        kept.count()
        return pairs, kept

    (pairs, kept), layer["dedup.neardup_s"] = timer("dedup.neardup",
                                                    neardup)
    layer["dedup.neardup_pairs"] = pairs.count()
    r = kept.agg(F.sum((F.col("text").rlike(EMAIL_RE)
                        | F.col("text").rlike(PHONE_RE)).cast("int")),
                 F.count(F.lit(1)),
                 F.count_distinct(F.sha2(F.col("text"), 256))).first()
    kept.unpersist()
    problems = []
    if r[0]:
        problems.append(f"{r[0]} curated rows keep PII")
    if r[1] != r[2]:
        problems.append(f"{r[1] - r[2]} curated rows share content")
    return layer, problems


def flagship_frame(spark, inputs: str, mega: str, spec: dict):
    from aloha_spark.plans.flagship import flagship_vectors

    turns = spark.read.parquet(f"{inputs}/turns")
    state = spark.read.parquet(f"{inputs}/state")
    return flagship_vectors(turns, state, spec=spec,
                            state_cols=["state_score", "state_tag"],
                            hot_keys=[mega], salt_buckets=8, keep_cols=KEEP)


def run_flagship(a) -> dict:
    """The warm-session proxy: warm up, then time passes of the flagship
    frame to noop until ``--seconds`` have passed and at least
    MIN_PASSES were made.  The frame's checksum is checked against the
    reference."""
    from aloha_spark.operators.asof import asof_join

    spark, timer, res = start(a)
    with open(a.spec) as f:
        spec = json.load(f)
    df = flagship_frame(spark, a.inputs, a.mega, spec)
    # the frame's own checksum pass warms the session up (walls fall
    # over the first passes of a session: JIT, worker start)
    (rows, xor), res["warmup_s"] = timer("warmup", lambda: checksum(df))
    ref, res["reference_s"] = timer("reference", lambda: featurize_reference(
        spark, a.inputs, spec))
    print("PHASE timed", flush=True)
    walls = []
    t_end = time.perf_counter() + a.seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        walls.append(timer(f"rep{len(walls)}", lambda: noop(df))[1])
    print("PHASE done", flush=True)
    res.update({"reference": ref, "walls": walls, "rows": rows,
                "problems": leakage_problems(ref)})
    if (rows, xor) != (ref["rows"], ref["checksum"]):
        res["problems"].append(
            f"flagship frame rows/checksum {rows}/{xor} != reference "
            f"{ref['rows']}/{ref['checksum']}")
    if a.trace:
        turns = spark.read.parquet(f"{a.inputs}/turns")
        state = spark.read.parquet(f"{a.inputs}/state")
        w = windows(turns)
        j = asof_join(w, state, on=ON, by=KEY,
                      state_cols=["state_score", "state_tag"],
                      hot_keys=[a.mega], salt_buckets=8)
        layer = {"windows.prefix_s": timer("windows", lambda: noop(w))[1],
                 "asof.prefix_s": timer("asof", lambda: noop(j))[1],
                 "pipeline.prefix_s": timer("pipeline",
                                            lambda: noop(df))[1]}
        curate, problems = curate_layers(spark, a.inputs, timer)
        layer.update(curate)
        res["problems"] += problems
        res["layers"] = layer
        res["spans"] = timer.spans
    return finish(spark, res, probe_host=False)


def start(a):
    """(session, timer, result dict with the session's start seconds)."""
    t0 = time.perf_counter()
    spark = session()
    return spark, Timer(spark), {"session_s": time.perf_counter() - t0}


def finish(spark, res: dict, probe_host: bool) -> dict:
    res["host"] = host_record(spark, probe_host)
    spark.stop()
    return res


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["job", "flagship"])
    p.add_argument("--inputs", required=True)
    p.add_argument("--spec", required=True)
    p.add_argument("--job", help="jobs/featurize.py")
    p.add_argument("--out")
    p.add_argument("--lineage")
    p.add_argument("--num-buckets", type=int)
    p.add_argument("--group-size", type=int)
    p.add_argument("--mega")
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--trace-out")
    p.add_argument("--trace-lineage")
    a = p.parse_args(argv)
    res = run_job(a) if a.mode == "job" else run_flagship(a)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    sys.exit(main())
