"""One benchmark run: ``python3 perfbench/run.py --workload W --seed S
--seconds T --trace 0|1``, from the root of a checkout.

A run makes its inputs from the seed, starts a Spark session (a new JVM),
makes untimed passes until pass time levels off, then makes timed passes
over the workload's fixed operation list until ``T`` seconds have been
measured.
Outputs are checked after the clock stops. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, which
also writes the spans and the ledger to ``perfbench/_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

now = time.perf_counter
_t_import = now()
try:
    # checks imports tools/check_correctness.py, which imports the package.
    import checks  # noqa: E402
except ImportError as e:
    sys.exit(f"perfbench: cannot import the program: {e}")
import gen  # noqa: E402
import probes  # noqa: E402

# Importing the package (through checks) counts towards set-up time.
IMPORT_S = now() - _t_import
N_CORES = min(4, os.cpu_count() or 1)
# Warm-up stops once a pass is no more than LEVEL_OFF faster than the best
# pass before it, or once the passes after the first have taken
# WARMUP_CAP_S seconds.
LEVEL_OFF = 0.05
WARMUP_CAP_S = 12.0
# A fixed, seed-independent documents table on which bigram_lm_score
# disagrees with its DuckDB twin on every run (see README).
FAULT_SEED = 1

CLINICAL_ROWS = ["ml_features"]
CORPUS_FAMILIES = {
    "dedup_chain": ["dedup_minhash_lsh"],
    "topk": ["ann_cosine_topk"],
    "lm_decontam": ["bigram_lm_score"],
}
# C1 only: with the default tiered compiler the JVM keeps recompiling hot
# Spark code for minutes, so in a run this short pass times would still be
# falling. No perf-data file, so the JVM writes nothing outside the checkout.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
# Bundle files per raw-zone batch (batch ETL, then bookmarked ingest).
FHIR_FILES, FHIR_PATIENTS = 8, 6


class Op:
    """One operation of a pass. ``run(spark, ctx)`` returns
    ``(build_s, exec_s, output)``; the output is checked after the pass."""

    def __init__(self, name, run, family=None):
        self.name, self.run, self.family = name, run, family


def registry_op(name: str, tables_dir: str, family=None) -> Op:
    from healthcare_aws_data_engineering_spark.plans.testdata_queries import QUERIES

    def run(spark, ctx):
        t0 = now()
        df = QUERIES[name](spark, tables_dir)
        t1 = now()
        rows = df.collect()
        t2 = now()
        return t1 - t0, t2 - t1, (df.columns, [tuple(r) for r in rows])

    op = Op(name, run, family)
    op.tables_dir = tables_dir
    return op


def clinical_ops(raw1: str, raw2: str) -> list[Op]:
    from healthcare_aws_data_engineering_spark.plans.etl import fhir_etl
    from healthcare_aws_data_engineering_spark.plans.reports import (
        cvd_report,
        prediabetes_report,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_observations
    from healthcare_aws_data_engineering_spark.streaming.incremental import (
        incremental_fhir_ingest,
    )

    def etl(spark, ctx):
        t0 = now()
        fhir_etl(spark, raw1, ctx["zone"])
        return 0.0, now() - t0, None

    def ingest(spark, ctx):
        t0 = now()
        q = incremental_fhir_ingest(spark, raw2, ctx["zone"], ctx["ckpt"])
        return 0.0, now() - t0, q

    def reports(spark, ctx):
        t0 = now()
        obs = load_observations(spark, f"{ctx['zone']}/observation")
        cvd, t2d = cvd_report(obs), prediabetes_report(obs)
        t1 = now()
        out = ([r.asDict() for r in cvd.collect()], [r.asDict() for r in t2d.collect()])
        return t1 - t0, now() - t1, out

    return [Op("fhir_etl", etl), Op("incremental_ingest", ingest), Op("reports", reports)]


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.tables = os.path.join(work, "tables")
        gen.make_tables(self.tables, args.seed)
        self.ops: list[Op] = []
        if args.workload == "clinical":
            self.truths = [
                gen.make_fhir(os.path.join(work, "raw1"), args.seed, FHIR_FILES, FHIR_PATIENTS),
                gen.make_fhir(os.path.join(work, "raw2"), args.seed + 7919, FHIR_FILES, FHIR_PATIENTS),
            ]
            self.ops = clinical_ops(os.path.join(work, "raw1"), os.path.join(work, "raw2"))
            self.ops += [registry_op(q, self.tables) for q in CLINICAL_ROWS]
            self.want_reports = checks.expected_reports(self.truths)
        else:
            fault_tables = os.path.join(work, "fault_tables")
            gen.make_tables(fault_tables, FAULT_SEED, only=("documents",))
            for fam, names in CORPUS_FAMILIES.items():
                for q in names:
                    d = fault_tables if q == "bigram_lm_score" else self.tables
                    self.ops.append(registry_op(q, d, fam))
        self.n_pass = 0
        self.bookmark_checked = False
        # First output of each operation that returned one, for the
        # negative self-checks.
        self.samples: dict[str, object] = {}
        self.spans: list[dict] = []
        self.t_start = now()

    # -- session -----------------------------------------------------------

    def start(self):
        """Launch a JVM and start the session through the package."""
        from healthcare_aws_data_engineering_spark.session import get_spark

        conf = {
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp {JVM_OPTS}",
        }
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.status = probes.Status(spark.sparkContext)
        return spark

    # -- passes ------------------------------------------------------------

    def run_pass(self, spark, timed: bool) -> dict:
        """One pass over the operation list. Returns its timings and,
        for timed passes, the outputs to check and the stage metrics."""
        self.n_pass += 1
        trace = timed and self.args.trace
        sc = spark.sparkContext
        ctx = {
            "zone": os.path.join(self.work, f"pass{self.n_pass}", "zone"),
            "ckpt": os.path.join(self.work, f"pass{self.n_pass}", "ckpt"),
        }
        rec = {"ops": [], "outputs": {}}
        mark = self.status.mark() if timed else None
        for op in self.ops:
            span = {"pass": self.n_pass, "op": op.name, "start_s": now() - self.t_start}
            if trace:
                sc.setJobGroup(f"{self.args.workload}/{op.name}", f"pass {self.n_pass}")
                op_mark = self.status.mark()
            cpu0 = probes.tree_cpu() if timed else 0.0
            t0 = now()
            try:
                build_s, exec_s, out = op.run(spark, ctx)
                err = None
            except Exception as e:  # counted as a failed operation
                build_s, exec_s, out, err = 0.0, now() - t0, None, f"{type(e).__name__}: {e}"
            wall = now() - t0
            cpu = probes.tree_cpu() - cpu0 if timed else 0.0
            span.update(build_s=build_s, exec_s=exec_s, wall_s=wall, cpu_s=cpu, error=err)
            if trace:
                jobs, stages = self.status.since(op_mark)
                span["job_ids"] = sorted(j["jobId"] for j in jobs)
                span["jobs"] = len(jobs)
                span.update(probes.stage_totals(stages))
                span["cache_left_mb"] = self.status.cached_mb()
            rec["ops"].append(span)
            rec["outputs"][op.name] = (out, err)
        if trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec["pass_s"] = sum(s["wall_s"] for s in rec["ops"])
        if timed:
            rec["cpu_s"] = sum(s["cpu_s"] for s in rec["ops"])
            jobs, stages = self.status.since(mark)
            rec["jobs"] = len(jobs)
            rec.update(probes.stage_totals(stages))
            rec["ctx"] = ctx
            self.spans.extend(rec["ops"])
        else:
            shutil.rmtree(os.path.join(self.work, f"pass{self.n_pass}"), ignore_errors=True)
        return rec

    # -- checks --------------------------------------------------------------

    def check_pass(self, spark, rec: dict) -> dict[str, list[str]]:
        """Problems per operation of a timed pass; registry rows are
        compared later, against twins computed once."""
        problems: dict[str, list[str]] = {}
        outs = rec["outputs"]
        for name, (out, err) in outs.items():
            if err:
                problems[name] = [err]
            elif name not in self.samples:
                self.samples[name] = out
        if self.args.workload == "clinical":
            problems.update(self._check_clinical(spark, rec))
        rec["digests"] = {
            op.name: checks.digest(*outs[op.name][0])
            for op in self.ops
            if hasattr(op, "tables_dir") and outs[op.name][0] is not None
        }
        shutil.rmtree(os.path.join(self.work, f"pass{self.n_pass}"), ignore_errors=True)
        del rec["outputs"]
        return problems

    def _check_clinical(self, spark, rec) -> dict[str, list[str]]:
        zone, outs, problems = rec["ctx"]["zone"], rec["outputs"], {}
        if outs["incremental_ingest"][0] is not None:
            rec["stream_batches"] = len(outs["incremental_ingest"][0].recentProgress)
        rec["files"] = sum(f.endswith(".parquet") for _, _, fs in os.walk(zone) for f in fs)
        step = {"fhir_etl": self.truths[0], "incremental_ingest": self.truths[1]}
        try:
            rows = checks.read_zone(zone)
        except Exception as e:  # a step left a table unwritten or unreadable
            found = {name: [f"curated zone: {type(e).__name__}: {e}"] for name in step}
        else:
            extra = checks.unexpected_rows(rows, self.truths)
            found = {name: checks.check_zone(rows, truth) + extra for name, truth in step.items()}
            if not self.bookmark_checked and not found["incremental_ingest"]:
                self.bookmark_checked = True
                found["incremental_ingest"] += self._bookmark_rerun(spark, rec["ctx"], rows)
        for name, p in found.items():
            if p and not outs[name][1]:
                problems[name] = p
        if outs["reports"][0] is not None:
            cvd, t2d = outs["reports"][0]
            p = checks.check_report(cvd, checks.CVD_COLS, self.want_reports["cvd"])
            p += checks.check_report(t2d, checks.T2D_COLS, self.want_reports["t2d"])
            if p:
                problems["reports"] = p
        return problems

    def _bookmark_rerun(self, spark, ctx, rows) -> list[str]:
        """A second bookmarked run on the same checkpoint adds nothing."""
        from healthcare_aws_data_engineering_spark.streaming.incremental import (
            incremental_fhir_ingest,
        )

        try:
            incremental_fhir_ingest(spark, os.path.join(self.work, "raw2"), ctx["zone"], ctx["ckpt"])
            again = checks.read_zone(ctx["zone"])
        except Exception as e:
            return [f"bookmarked rerun: {type(e).__name__}: {e}"]
        if any(len(again[t]) != len(rows[t]) for t in rows):
            return ["bookmarked rerun added rows"]
        return []

    def self_checks(self, twins: dict) -> list[str]:
        """Feed one perturbed row to each check; each must fail. Rows are
        taken from the first pass in which the operation returned one."""
        missed = []
        name = next((n for n in twins if n in self.samples), None)
        if name is not None:
            cols, rows = self.samples[name]
            bad = list(rows)
            if bad:
                bad[0] = tuple("perturbed" if i == 0 else v for i, v in enumerate(bad[0]))
            else:
                bad = [tuple("perturbed" for _ in cols)]
            if not checks.compare(checks.digest(cols, bad), twins[name]):
                missed.append(f"oracle check accepted a perturbed {name} row")
        if self.args.workload != "clinical":
            return missed
        cvd = [dict(r) for r in (self.samples.get("reports") or ([], []))[0]]
        if cvd:
            cvd[0]["overall_cvd_risk"] = "perturbed"
            if not checks.check_report(cvd, checks.CVD_COLS, self.want_reports["cvd"]):
                missed.append("report check accepted a perturbed row")
        zone = {t: [] for t in checks.TRUTH_TABLES}
        for t in checks.TRUTH_TABLES[:3]:
            zone[t] = [{f"{t}_id": i} for i in self.truths[0][t]]
        zone["observation"] = [
            {"observation_id": k, **v} for k, v in self.truths[0]["observation"].items()
        ]
        if checks.check_zone(zone, self.truths[0]):
            missed.append("zone check rejected the generator's own rows")
        zone["observation"][0] = dict(zone["observation"][0])
        zone["observation"][0]["value_quantity"] = (
            zone["observation"][0]["value_quantity"] or 0.0
        ) + 1.0
        if not checks.check_zone(zone, self.truths[0]):
            missed.append("zone check accepted a perturbed observation")
        return missed


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _op_medians(timed: list[dict], key: str) -> float:
    """A pass's ``key`` built from medians: each operation's median over
    the timed passes, summed over the operations. One slow operation in
    one pass does not move it."""
    return sum(
        _median([r["ops"][i][key] for r in timed]) for i in range(len(timed[0]["ops"]))
    )


def run(args, work: str) -> dict:
    bench = Bench(args, work)
    spark = None
    try:
        # Set-up: launch the JVM, start the session, then untimed passes
        # until pass time levels off.
        t0 = now()
        spark = bench.start()
        start_s = now() - t0
        warm = [bench.run_pass(spark, timed=False)["pass_s"]]
        capped = False
        while len(warm) < 2 or warm[-1] < (1 - LEVEL_OFF) * min(warm[:-1]):
            if sum(warm[1:]) >= WARMUP_CAP_S:
                capped = True
                print(f"warm-up capped at {WARMUP_CAP_S:.0f} s before passes levelled off",
                      file=sys.stderr)
                break
            warm.append(bench.run_pass(spark, timed=False)["pass_s"])
        setup_s = IMPORT_S + now() - t0
        timed: list[dict] = []
        problems: dict[int, dict[str, list[str]]] = {}
        # Whole passes until the clock has measured ``--seconds``.
        while sum(r["pass_s"] for r in timed) < args.seconds:
            rec = bench.run_pass(spark, timed=True)
            problems[len(timed)] = bench.check_pass(spark, rec)
            timed.append(rec)
        peak_rss = probes.tree_peak_rss_mb()

        # Oracle twins, once, compared with every timed pass.
        from healthcare_aws_data_engineering_spark.plans.testdata_queries import ORACLE

        twins = {
            op.name: checks.Oracle(op.tables_dir).digest(ORACLE[op.name])
            for op in bench.ops
            if hasattr(op, "tables_dir")
        }
        for i, rec in enumerate(timed):
            for name, twin in twins.items():
                got = rec["digests"].get(name)
                if got is not None:
                    p = checks.compare(got, twin)
                    if p:
                        problems[i].setdefault(name, []).extend(p)
        missed = bench.self_checks(twins)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()

    attempted = len(bench.ops) * len(timed)
    failed = sum(len(p) for p in problems.values())
    for i, p in problems.items():
        for name, msgs in p.items():
            print(f"pass {i} {name} FAILED: {'; '.join(msgs)[:400]}", file=sys.stderr)
    for m in missed:
        print(f"self-check: {m}", file=sys.stderr)
    print(
        f"{args.workload}: N={N_CORES} setup={setup_s:.3f} (import {IMPORT_S:.3f}, "
        f"start {start_s:.3f}) warm-up={[round(x, 3) for x in warm]}{' (capped)' if capped else ''} "
        f"timed={[round(r['pass_s'], 3) for r in timed]}",
        file=sys.stderr,
    )
    detail = {
        "setup_s": setup_s,
        "warmup_s": warm,
        "warmup_capped": capped,
        "timed_op_s": [[s["wall_s"] for s in r["ops"]] for r in timed],
        "cpu_s": [r["cpu_s"] for r in timed],
        "peak_rss_mb": peak_rss,
    }
    print("detail " + json.dumps(detail), file=sys.stderr)
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (_op_medians(timed, "wall_s"), "s"),
            "cpu_s": (_op_medians(timed, "cpu_s"), "s"),
            "shuffle_mb": (_median([r["shuffle_mb"] for r in timed]), "MB"),
        }
    else:
        metrics = {
            "session.import_s": (IMPORT_S, "s"),
            "session.start_s": (start_s, "s"),
            "warmup.pass_s": (sum(warm), "s"),
            "warmup.first_pass_s": (warm[0], "s"),
            "warmup.passes": (len(warm) - 1, "count"),
            **layer_metrics(bench, timed),
            "memory.peak_rss_mb": (peak_rss, "MB"),
        }
        write_trace(bench, timed, metrics, setup_s, warm, capped)
    return {
        "correct": not missed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(bench: Bench, timed: list[dict]) -> dict:
    def per_pass(fn):
        return _median([fn(r) for r in timed])

    def ops_sum(r, key, pred=lambda s: True):
        return sum(s.get(key, 0.0) for s in r["ops"] if pred(s))

    fam = {op.name: op.family for op in bench.ops}
    ml = lambda s: s["op"].startswith("ml_")  # noqa: E731
    m = {
        "plans.build_s": (per_pass(lambda r: ops_sum(r, "build_s")), "s"),
        "plans.exec_s": (per_pass(lambda r: ops_sum(r, "exec_s")), "s"),
        "plans.jobs": (per_pass(lambda r: r["jobs"]), "count"),
        "plans.stages": (per_pass(lambda r: r["stages"]), "count"),
        "plans.tasks": (per_pass(lambda r: r["tasks"]), "count"),
        "plans.row_p50_s": (per_pass(lambda r: _median([s["wall_s"] for s in r["ops"]])), "s"),
        "exec.task_cpu_s": (per_pass(lambda r: r["task_cpu_s"]), "s"),
        "exec.core_util": (
            per_pass(lambda r: r["run_s"] / max(1e-9, ops_sum(r, "exec_s") * N_CORES)),
            "ratio",
        ),
        "exec.gc_s": (per_pass(lambda r: r["gc_s"]), "s"),
        "exec.spill_mb": (per_pass(lambda r: r["spill_mb"]), "MB"),
        "cache.left_mb": (per_pass(lambda r: max(s.get("cache_left_mb", 0.0) for s in r["ops"])), "MB"),
        "sources.scan_mb": (per_pass(lambda r: r["input_mb"]), "MB"),
        "etl.batch_s": (per_pass(lambda r: ops_sum(r, "wall_s", lambda s: s["op"] == "fhir_etl")), "s"),
        "etl.jobs": (per_pass(lambda r: ops_sum(r, "jobs", lambda s: s["op"] == "fhir_etl")), "count"),
        "streaming.ingest_s": (
            per_pass(lambda r: ops_sum(r, "wall_s", lambda s: s["op"] == "incremental_ingest")), "s"),
        "streaming.batches": (per_pass(lambda r: r.get("stream_batches", 0)), "count"),
        "writers.output_mb": (per_pass(lambda r: r["output_mb"]), "MB"),
        "writers.files": (per_pass(lambda r: r.get("files", 0)), "count"),
        "reports.curated_s": (per_pass(lambda r: ops_sum(r, "wall_s", lambda s: s["op"] == "reports")), "s"),
        "ml.exec_s": (per_pass(lambda r: ops_sum(r, "wall_s", ml)), "s"),
    }
    for family in CORPUS_FAMILIES:
        inf = lambda s, f=family: fam.get(s["op"]) == f  # noqa: E731
        m[f"operators.{family}.s"] = (per_pass(lambda r: ops_sum(r, "wall_s", inf)), "s")
        m[f"operators.{family}.shuffle_mb"] = (per_pass(lambda r: ops_sum(r, "shuffle_mb", inf)), "MB")
    return m


def write_trace(bench: Bench, timed, metrics, setup_s, warm, capped) -> None:
    out = os.path.join(HERE, "_out")
    os.makedirs(out, exist_ok=True)
    a = bench.args
    with open(os.path.join(out, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
        json.dump(
            {
                "workload": a.workload,
                "seed": a.seed,
                "cores": N_CORES,
                "setup_s": setup_s,
                "warmup_curve_s": warm,
                "warmup_capped": capped,
                "timed_pass_s": [r["pass_s"] for r in timed],
                "ledger": {k: v for k, (v, _) in metrics.items()},
                "spans": bench.spans,
            },
            f,
            indent=1,
        )


def _stop_jvm() -> None:
    """Shut the py4j gateway and its JVM down and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = [p for p in probes.tree_pids() if p != os.getpid()]
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["clinical", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # On SIGTERM still run the clean-up below and stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(N_CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
