#!/usr/bin/env python3
"""Benchmark of the platform's three jobs; see perfbench/README.md.

    python3 perfbench/run.py --workload etl_incremental --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Everything the run writes stays under
``.perfbench_work/`` and ``.artifacts/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "dimagi_data_platform_spark")
# a basename no other data directory uses: plans/queries.py keys the
# persisted-index cache under .artifacts by it and prunes siblings
TABLES_TAG = "perfbench_tables"
TABLES_SF = 0.005

SERVE_MIX = (
    "monthly_usage",
    "visits_sessionize",
    "retention_cohorts",
    "props_extract",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
)
CURATE_MIX = (
    "minhash_lsh_dedup",
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "knn_ivf",
    "knn_bruteforce",
    "doc_quality",
)
ETL_CHECKED = (
    "monthly_usage",
    "user_lifetime",
    "active_users_daily",
    "retention_cohorts",
)
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
# op_s is given at a fixed host pace (README.md, "Host pace"): each timed
# operation is divided by the median time of a reference Spark job run
# REF_REPS times just before it and REF_REPS times just after it, and
# multiplied by REF_S, the reference job's time at that pace
REF_REPS = 8
REF_S = 0.1


class Outcome:
    """What a workload reports back to ``main``."""

    def __init__(self) -> None:
        self.setup_extra_s = 0.0  # set-up done by the workload itself
        self.trace_overhead_s = 0.0  # tracer bookkeeping in timed operations
        self.op_s: list[float] = []  # wall seconds of each timed operation
        self.ref_s: list[float] = []  # the reference job around each
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.summary: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _ref_times(spark) -> list[float]:
    """Wall seconds of ``REF_REPS`` runs of the reference job: a sum
    over 100 000 generated rows in 4 partitions. It reads no input and
    runs none of the program's code, so only the host's pace and the
    session's own settings move its time."""
    times = []
    for _ in range(REF_REPS):
        t0 = time.perf_counter()
        spark.range(0, 100_000, 1, 4).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t0)
    return times


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _artifact_entries() -> set[tuple[str, int]]:
    """This benchmark's persisted indexes under .artifacts, by name and
    inode (a rebuild under the same name gets a new inode)."""
    base = os.path.join(ROOT, ".artifacts")
    if not os.path.isdir(base):
        return set()
    return {
        (e.name, e.inode())
        for e in os.scandir(base)
        if f"_{TABLES_TAG}_" in e.name
    }


def _clear_artifacts() -> None:
    base = os.path.join(ROOT, ".artifacts")
    for name, _ in _artifact_entries():
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)


# ---------------------------------------------------------------- mixes


def run_mix(spark, inputs: dict, seconds: float, tracer) -> Outcome:
    """A closed loop of query passes by one client until ``seconds``
    have passed; a pass runs the dashboard mix, then the curation mix,
    and collects every result, as a dashboard fetches it. Every pass's
    results are checked after the loop."""
    from parity import compare

    from dimagi_data_platform_spark.plans.queries import QUERIES

    out = Outcome()
    tables_dir = inputs["tables"]
    mix = SERVE_MIX + CURATE_MIX
    t0 = time.perf_counter()
    builds_before = _artifact_entries()
    try:
        # building the knn_ivf plan builds its persisted IVF index
        QUERIES["knn_ivf"](spark, tables_dir)
    except Exception:  # the timed knn_ivf calls fail and are counted
        traceback.print_exc()
    out.setup_extra_s = time.perf_counter() - t0
    builds_setup = len(_artifact_entries() - builds_before)

    def one(name: str):
        out.attempted += 1
        try:
            return QUERIES[name](spark, tables_dir).toPandas()
        except Exception:  # a failing query is counted, the loop goes on
            traceback.print_exc()
            out.fail(f"{name} raised")
        return None

    results: list[dict] = []
    passes: list[dict] = []
    timed_before = _artifact_entries()
    overhead_before = tracer.overhead_s if tracer else 0.0
    loop_t0 = time.perf_counter()
    while not passes or time.perf_counter() - loop_t0 < seconds:
        refs = _ref_times(spark)
        secs, res = {}, {}
        for name in mix:
            t0 = time.perf_counter()
            if tracer is None:
                res[name] = one(name)
            else:
                with tracer.span(f"queries.{name}"):
                    res[name] = one(name)
            secs[name] = time.perf_counter() - t0
        passes.append(secs)
        results.append(res)
        out.op_s.append(sum(secs.values()))
        out.ref_s.append(statistics.median(refs + _ref_times(spark)))
    timed_builds = len(_artifact_entries() - timed_before)
    if tracer is not None:
        out.trace_overhead_s = tracer.overhead_s - overhead_before

    try:
        expected = _expected(tables_dir, mix)
    except Exception:  # every result goes unchecked and fails
        traceback.print_exc()
        expected = {}
    for res in results:
        for name, pdf in res.items():
            if pdf is None:
                continue  # already counted as failed
            try:
                errs = compare(pdf, expected[name])
            except Exception as e:  # no oracle result, or it did not compare
                errs = [repr(e)]
            if errs:
                out.fail(f"{name}: {errs[:2]}")
    for label, part in (("serve_pass_s", SERVE_MIX), ("curate_pass_s", CURATE_MIX)):
        out.summary[label] = (statistics.median(sum(p[q] for q in part) for p in passes), "s")

    if tracer is not None:
        spans = [s for s in tracer.roots if s.name.startswith("queries.")]
        n = len(passes)
        for name in mix:
            mine = [s for s in spans if s.name == f"queries.{name}"]
            out.layers[f"queries.{name}.s"] = sum(s.seconds for s in mine) / n
            for attr in ("jobs", "stages", "tasks"):
                out.layers[f"queries.{name}.{attr}"] = sum(s.total(attr) for s in mine) / n
        loads = [c for s in spans for c in s.walk() if c.name == "catalog.load"]
        out.layers["catalog.load_s"] = sum(s.seconds for s in loads) / n
        out.layers["artifacts.builds"] = builds_setup + timed_builds
        out.layers["artifacts.timed_builds"] = timed_builds
    return out


def _expected(tables_dir: str, names) -> dict:
    """Each query's DuckDB oracle result over the generated tables."""
    from parity import duck_con

    from dimagi_data_platform_spark.plans.oracle import ORACLE
    from dimagi_data_platform_spark.plans.trained_oracle import (
        generate_trained_oracles,
    )

    oracles = dict(ORACLE)
    oracles.update(generate_trained_oracles(tables_dir))
    con = duck_con(tables_dir)
    try:
        return {name: con.execute(oracles[name]).fetchdf() for name in names}
    finally:
        con.close()


# ------------------------------------------------------------------ etl


def run_etl(spark, inputs: dict, seconds: float, tracer) -> Outcome:
    """The scheduled job: one backfill ``run_platform_etl`` call, then
    one call per incremental batch (closed loop, one client) until
    ``seconds`` have passed. Each call publishes
    ``monthly_usage`` to an embedded Derby warehouse through the JDBC
    MERGE path."""
    import pyarrow.parquet as pq

    from dimagi_data_platform_spark.plans import etl

    out = Outcome()
    work, hist = inputs["work"], inputs["history"]
    src = os.path.join(work, "events_src")
    wh = os.path.join(work, "warehouse")
    derby = os.path.join(work, "derby")
    cfg = etl.PlatformEtlConfig(
        source_events=src,
        warehouse=wh,
        jdbc_url=f"jdbc:derby:{derby};create=true",
        jdbc_driver=DERBY_DRIVER,
    )
    if tracer is not None:
        for attr, name in (
            ("merge_version", "versioned.merge"),
            ("write_version", "versioned.write"),
            ("read_version", "versioned.read"),
            ("write_jdbc", "jdbc.write"),
            ("_publish_jdbc", "jdbc.publish"),
        ):
            tracer.wrap(etl, attr, name)

    def call(name: str, index: int) -> float:
        table = hist.backfill if index == 0 else hist.batches[index - 1]
        path = os.path.join(src, f"part-{index:05d}.parquet")
        pq.write_table(table, path)
        sent.append(table)
        src_bytes.append(os.path.getsize(path))
        out.attempted += 1
        before = _dir_bytes(wh) if tracer is not None else 0
        t0 = time.perf_counter()
        try:
            if tracer is None:
                report = etl.run_platform_etl(spark, cfg)
            else:
                with tracer.span(name):
                    report = etl.run_platform_etl(spark, cfg)
        except Exception:
            traceback.print_exc()
            out.fail(f"{name} {index} raised")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if report["rows_ingested"] != table.num_rows:
            out.fail(f"{name} {index}: ingested {report['rows_ingested']} of {table.num_rows}")
        if tracer is not None and name == "etl.batch":
            written.append((_dir_bytes(wh) - before) / os.path.getsize(path))
        return dt

    os.makedirs(src)
    sent: list = []  # every source table written, in arrival order
    src_bytes: list[int] = []
    written: list[float] = []
    # set-up: the backfill builds the warehouse every batch reads
    backfill_s = call("etl.backfill", 0)
    out.setup_extra_s = backfill_s
    overhead_before = tracer.overhead_s if tracer else 0.0
    loop_t0 = time.perf_counter()
    for i in range(1, len(hist.batches) + 1):
        if out.op_s and time.perf_counter() - loop_t0 >= seconds:
            break
        refs = _ref_times(spark)
        out.op_s.append(call("etl.batch", i))
        out.ref_s.append(statistics.median(refs + _ref_times(spark)))
    if tracer is not None:
        out.trace_overhead_s = tracer.overhead_s - overhead_before

    stored = _dir_bytes(wh) / sum(src_bytes)
    try:
        target_rows = _check_etl(spark, work, wh, cfg, sent, out)
    except Exception:  # before any check ran; they count as one failure
        traceback.print_exc()
        out.fail("etl checks raised")
        target_rows = 0
    out.summary["etl_backfill_s"] = (backfill_s, "s")
    out.summary["etl_batch_s"] = (statistics.median(out.op_s), "s")
    out.summary["etl_stored_bytes_per_input_byte"] = (stored, "ratio")

    if tracer is not None:
        batches = tracer.find("etl.batch")
        backfill = tracer.find("etl.backfill")

        def per_batch(span_name: str, fn) -> float:
            return sum(
                fn(s) for b in batches for s in b.walk() if s.name == span_name
            ) / len(batches)

        L = out.layers
        L["etl.backfill_s"] = backfill[0].seconds if backfill else 0.0
        L["etl.batch_s"] = statistics.fmean(b.seconds for b in batches)
        L["etl.batch_self_s"] = statistics.fmean(b.self_seconds for b in batches)
        for attr in ("jobs", "stages", "tasks"):
            L[f"etl.{attr}_per_batch"] = statistics.fmean(b.total(attr) for b in batches)
        L["etl.touched_user_frac"] = hist.touched_user_frac[0]
        L["etl.stored_bytes_per_input_byte"] = stored
        L["versioned.merge_s"] = per_batch("versioned.merge", lambda s: s.seconds)
        L["versioned.merge_calls"] = per_batch("versioned.merge", lambda s: 1)
        L["versioned.merge_jobs"] = per_batch("versioned.merge", lambda s: s.total("jobs"))
        L["versioned.read_s"] = per_batch("versioned.read", lambda s: s.seconds)
        L["versioned.write_s"] = sum(
            s.seconds for b in backfill for s in b.walk() if s.name == "versioned.write"
        )
        L["versioned.bytes_written_per_batch_byte"] = (
            statistics.fmean(written) if written else 0.0
        )
        L["jdbc.publish_s"] = per_batch("jdbc.publish", lambda s: s.seconds)
        L["jdbc.target_rows"] = target_rows
    return out


def _check_etl(spark, work: str, wh: str, cfg, sent: list, out: Outcome) -> int:
    """Each served indicator must equal its one-shot query over the
    latest-wins deduplicated events sent, and Derby's MONTHLY_USAGE
    must equal the served ``monthly_usage``. Each of these reads is an
    operation of the serve path: one that raises or differs fails.
    Returns the Derby row count."""
    import pyarrow.parquet as pq

    import gen
    from parity import compare, duck_con

    from dimagi_data_platform_spark.plans.etl import serve_indicator
    from dimagi_data_platform_spark.plans.oracle import ORACLE

    out.attempted += len(ETL_CHECKED) + 1
    ref = os.path.join(work, "reference")
    os.makedirs(ref)
    pq.write_table(gen.latest_wins(sent), os.path.join(ref, "events.parquet"))
    con = duck_con(ref)
    served = {}
    for name in ETL_CHECKED:
        try:
            served[name] = serve_indicator(spark, wh, name).toPandas()
            errs = compare(served[name], con.execute(ORACLE[name]).fetchdf())
        except Exception:
            traceback.print_exc()
            errs = ["raised"]
        if errs:
            out.fail(f"indicator {name}: {errs[:2]}")
    con.close()
    try:
        pub = (
            spark.read.format("jdbc")
            .options(url=cfg.jdbc_url, dbtable="MONTHLY_USAGE", driver=DERBY_DRIVER)
            .load()
            .toPandas()
        )
        pub.columns = [c.lower() for c in pub.columns]
        errs = compare(pub, served["monthly_usage"])
    except Exception:
        traceback.print_exc()
        return out.fail("derby MONTHLY_USAGE raised") or 0
    if errs:
        out.fail(f"derby MONTHLY_USAGE: {errs[:2]}")
    return len(pub)


# ----------------------------------------------------------------- main


def _gen_tables(work: str, seed: int) -> dict:
    import gen

    d = os.path.join(work, TABLES_TAG)
    gen.make_tables(d, seed, TABLES_SF)
    return {"tables": d}


def _gen_etl(work: str, seed: int) -> dict:
    import gen

    return {"work": work, "history": gen.make_etl_history(seed, gen.EtlShape())}


WORKLOADS = {
    "etl_incremental": (_gen_etl, run_etl),
    "serve_curate": (_gen_tables, run_mix),
}


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and so its Python workers)
    has exited."""
    import subprocess

    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "plans", "etl.py")):
        print(f"perfbench: no program sources at {PACKAGE}", file=sys.stderr)
        return 2

    # launch hygiene: the JVM's Python workers import the package, so
    # the repository root goes on PYTHONPATH before the JVM starts; all
    # run output (spark-warehouse/, derby.log, the Derby database)
    # lands in a scratch working directory
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # tests/parity.py holds the oracle comparison the test suite uses
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    # every run starts without this benchmark's persisted indexes
    _clear_artifacts()

    generate, run = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    inputs = generate(work, args.seed)
    gen_s = time.perf_counter() - t0

    from spans import Tracer

    from dimagi_data_platform_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    _ref_times(spark)  # the reference job's first runs compile its code
    tracer = Tracer(spark.sparkContext) if args.trace else None
    if tracer is not None:
        from dimagi_data_platform_spark.plans import queries

        tracer.wrap(queries, "load_table", "catalog.load")
    try:
        t_ops = time.perf_counter()
        steal0, total0 = _cpu_jiffies()
        out = run(spark, inputs, args.seconds, tracer)
        steal1, total1 = _cpu_jiffies()
        setup_s = (t_ops - T_START) - gen_s + out.setup_extra_s
        peak_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb("self")
    finally:
        _stop(spark)
        _clear_artifacts()

    op_s = statistics.median(dt * REF_S / r for dt, r in zip(out.op_s, out.ref_s))
    op_wall_s = statistics.median(out.op_s)
    ref_s = statistics.median(out.ref_s)
    error_rate = out.failed / out.attempted
    summary = {
        "setup_s": (setup_s, "s"),
        "op_s": (op_s, "s"),
        "op_wall_s": (op_wall_s, "s"),
        "host.ref_s": (ref_s, "s"),
        **out.summary,
        "peak_rss_mb": (peak_mb, "MB"),
        "error_rate": (error_rate, "ratio"),
        # CPU time the hypervisor gave to other guests: a noisy host
        "host_steal_frac": ((steal1 - steal0) / max(1, total1 - total0), "ratio"),
    }
    for name, (value, unit) in summary.items():
        print(f"{name:34s} {value:12.4f} {unit}")
    print(f"{'timed operations':34s} {len(out.op_s):12d}")
    for dt, r in zip(out.op_s, out.ref_s):
        print(f"{'  wall s, reference job s':34s} {dt:12.4f} {r:8.4f}")
    for p in out.problems:
        print(f"FAILED: {p}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        out.layers["session.start_s"] = session_s
        out.layers["spark.failed_tasks"] = sum(r.total("failed_tasks") for r in tracer.roots)
        out.layers["error_rate"] = error_rate
        out.layers["op_wall_s"] = op_wall_s
        out.layers["host.ref_s"] = ref_s
        traced = sum(out.op_s)
        out.layers["trace.overhead_frac"] = out.trace_overhead_s / (traced - out.trace_overhead_s)
        # a layer this workload never enters reports 0
        values = {m["name"]: out.layers.get(m["name"], 0) for m in declared["per_layer"]}
        kind = "per_layer"
    else:
        values = {
            "setup_s": setup_s,
            "op_s": op_s,
            "peak_rss_mb": peak_mb,
        }
        kind = "end_to_end"
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in declared[kind]
    }
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
