#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness on first use
(`perfbench/build.py`), generates the workload's inputs from the seed, runs
the JVM harness, checks every output and prints one JSON object as the last
line of standard output. `--trace 1` attaches the benchmark's Spark listener
and prints the per-layer metrics instead of the end-to-end ones. The full
report of the run is kept under the build dir as `reports/`. See README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import eea  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import tables  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
SF = 0.01                 # table scale of olap_sql (60k lineitem rows)
SETUP_REPS = 3            # set-ups per run; must match Harness.SetupReps

# olap_sql: oracle-backed registry queries covering scans, joins, windows,
# aggregates and the keyed merges (q07/q09/q100). A fixed set: the seed
# permutes the order of every pass, never the set.
OLAP_QUERIES = ["q01_pricing_summary", "q07_upsert", "q09_upsert_versioned",
                "q10_revenue_by_nation", "q11_top_customers_per_region",
                "q16_semi_anti", "q24_sessions", "q100_cdc_apply"]

# emissions_pipeline sizing: 5 categories x 2 sub-codes -> 32,400 key slots,
# 28% in the bulk file (~9k keys, ~37k raw rows: the reference's ~30k-row
# file). 4 rounds x 25 deltas = 100 delta files.
EEA = dict(sub_codes=2, bulk_share=0.28, rounds=4, deltas_per_round=25)
STORED_RATIO_AFTER = 3


def jvm_cmd(classes, workload, seconds, trace, run_dir):
    # the options build.sbt gives forked runs: Spark on JDK 17 outside
    # spark-submit needs these module opens
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    args = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args += [f"-Djava.io.tmpdir={run_dir}/jtmp",
             f"-Dderby.system.home={run_dir}/derby-home",
             f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", build.classpath(classes), "perfbench.Harness",
             workload, str(seconds), str(trace), run_dir]
    return args


def prepare_inputs(workload, seed, run_dir):
    """Generate the workload's inputs from the seed; return the JVM plan."""
    if workload == "emissions_pipeline":
        feed = os.path.join(run_dir, "feed")
        os.makedirs(feed)
        plan = eea.generate(feed, seed, **EEA)
        for step in [plan["bulk"]] + [s for r in plan["rounds"] for s in r]:
            step["bytes"] = os.path.getsize(os.path.join(feed, step["file"]))
        plan["feed_dir"] = "feed"
        plan["stored_ratio_after"] = STORED_RATIO_AFTER
        return plan
    data = os.path.join(run_dir, "data")
    os.makedirs(data)
    tables.generate(data, seed, SF)
    # One linked copy of the tables per set-up, and one for the traced run's
    # Staged.prepare: staging is memoized per directory for the JVM's
    # lifetime, so each gets a directory nothing was staged from yet.
    copies = [f"setup{i}" for i in range(SETUP_REPS)] + ["prepare"]
    for c in copies:
        os.makedirs(os.path.join(run_dir, c))
        for f in os.listdir(data):
            os.link(os.path.join(data, f), os.path.join(run_dir, c, f))
    rng = random.Random(seed)
    orders = []
    for _ in range(200):
        o = list(OLAP_QUERIES)
        rng.shuffle(o)
        orders.append(o)
    return {"queries": OLAP_QUERIES, "setup_dirs": copies[:SETUP_REPS],
            "prepare_dir": "prepare", "orders": orders}


def run_jvm(cmd, env, cwd, budget):
    """Run the harness in its own process group; the group is killed on a
    timeout or when this process is told to stop, and always waited for."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        raise SystemExit(f"perfbench: harness exceeded {budget:.0f} s\n{out[-3000:]}")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    return out


def sweep_stale_runs(out_root):
    """Remove run dirs left by runs that were killed before cleaning up."""
    for d in os.listdir(out_root):
        if d.startswith("run-") and d[4:].isdigit():
            try:
                os.kill(int(d[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(out_root, d), ignore_errors=True)
            except PermissionError:
                pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["emissions_pipeline", "olap_sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    started = time.time()
    out_root = build.build_dir()
    sweep_stale_runs(out_root)
    run_dir = os.path.abspath(os.path.join(out_root, f"run-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = prepare_inputs(a.workload, a.seed, run_dir)
        with open(os.path.join(run_dir, "plan.json"), "w") as f:
            json.dump(plan, f)
        env = dict(os.environ)
        env.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                   SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
                   SPARK_GRAFT_TMP=os.path.join(run_dir, "tmp"))
        for d in ("local", "tmp", "jtmp"):
            os.makedirs(os.path.join(run_dir, d))
        log = run_jvm(jvm_cmd(classes, a.workload, a.seconds, a.trace, run_dir),
                      env, run_dir, DEADLINE_S - (time.time() - started))
        with open(os.path.join(run_dir, "out.json")) as f:
            out = json.load(f)
        checks = oracle.check(a.workload, run_dir, out)
        report = layers.report(a.workload, out, checks, bool(a.trace))
        os.makedirs(os.path.join(out_root, "reports"), exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        with open(os.path.join(out_root, "reports", name), "w") as f:
            json.dump(dict(report, log_tail=log[-4000:]), f, indent=1)
        h, w = report["host"], report["window"]
        print(f"[perfbench] host nproc={h['nproc']} spark_cores={h['spark_cores']} "
              f"mem_total_mb={h['mem_total_mb']:.0f} java={h['java']} "
              f"steal_cores={w['steal_cores']:.3f} core_busy={w['busy_cores'] / h['nproc']:.3f}")
        for msg in report["failures"][:20]:
            print(f"[perfbench] {msg}")
        print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                          "failed": report["failed"], "metrics": report["metrics"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
