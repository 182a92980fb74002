#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload taxi_month --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Builds graft and the harness from source
(``perfbench/build.py``) into ``$CARGO_TARGET_DIR`` (default
``.bench_build``), generates the workload's inputs from the seed
(``perfbench/gen.py``, cached per seed under ``.bench_cache``), computes
the DuckDB oracle results (cached beside the inputs), then runs the
harness JVM (``perfbench/src``) and checks every query's result against
the oracle. With ``--trace 0`` it prints the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` the per-layer ones and writes the span
trace to ``.bench_work/<workload>/trace.jsonl``. The last stdout line is
one JSON object: correct, attempted, failed, metrics.

Exit code 1 when a query failed or disagreed with the oracle, or, in a
traced run, when a query's wall is not tiled by its build and action self
time and its job union within 10%, or a job carries no query tag.
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
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a run ends within 180 s; the first one in a checkout also builds
JVM_BUDGET_S = 160
# batch_s is the median of at least MIN_WARM warm passes. A traced run
# also has one untimed warm-up pass; it traces the cold pass and warm
# passes 1 and 4 and compares them with the untraced warm passes 2 and 3
# (ABBA order), so the trace overhead is measured in one JVM.
MIN_WARM = 4
# setup_s is the median of this many cold session builds, each in a fresh
# JVM: SETUPS - 1 set-up-only JVMs, then the harness JVM's own build. A
# cold build takes about 6 s, so more do not fit a run's time.
SETUPS = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    def phase(name):
        log(f"{name} done at {time.time() - t_start:.1f} s")
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "session.json")) as f:
        session = json.load(f)
    wl = WORKLOADS[a.workload]

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    try:
        build.build(out)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    phase("build")
    t_built = time.time()
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)

    cache = os.path.join(root, ".bench_cache", a.workload, f"seed-{a.seed}")
    data_dir = os.path.join(cache, "data")
    sizes = gen.ensure_inputs(data_dir, a.seed, wl["tables"])
    input_rows = sum(s["rows"] for s in sizes.values())
    input_bytes = sum(s["bytes"] for s in sizes.values())
    phase("inputs")
    expected = oracle.ensure_oracle(os.path.join(cache, "oracle"), data_dir,
                                    wl["queries"], oracle_sql,
                                    session["cores"])
    phase("oracle")

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    warmups = max(wl["warmup_passes"], a.trace)
    conf = dict(session["conf"])
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    spec = {
        "cores": session["cores"], "conf": conf, "queries": wl["queries"],
        "data_dir": data_dir, "scratch_dir": os.path.join(work, "scratch"),
        "results_dir": os.path.join(work, "results"), "seconds": a.seconds,
        "warmup_passes": warmups, "min_warm": MIN_WARM,
        "traced_passes": [0, warmups + 1, warmups + 4] if a.trace else [],
    }
    spec_path = os.path.join(work, "spec.json")
    raw_path = os.path.join(work, "raw.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = build.java_cmd(out, session["heap"], "perfbench.Harness")
    cmd[1:1] = [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dgraft.scratch={spec['scratch_dir']}"]
    setups = []
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        for i in range(SETUPS):
            last = i == SETUPS - 1
            path = raw_path if last else os.path.join(work, f"setup{i}.json")
            run_cmd = cmd + ([] if last else ["--setup-only"]) + \
                [spec_path, path]
            budget = JVM_BUDGET_S - (time.time() - t_built)
            try:
                r = subprocess.run(run_cmd, stdout=jlog,
                                   stderr=subprocess.STDOUT, timeout=budget)
            except subprocess.TimeoutExpired:
                log(f"harness exceeded {budget:.0f} s")
                return 3
            if r.returncode != 0 or not os.path.exists(path):
                log(f"harness exited {r.returncode}; see {work}/jvm.log")
                return 3
            with open(path) as f:
                setups.append(json.load(f)["setup_s"])
            phase(f"JVM {i + 1} of {SETUPS} (session build "
                  f"{setups[-1]:.2f} s)")
    with open(raw_path) as f:
        raw = json.load(f)

    # correctness: the last pass's results must equal the oracle's, and
    # every earlier pass must have written as many rows
    wrong = {}
    last = max(p["pass"] for p in raw["passes"])
    for rec in raw["queries"]:
        q = rec["query"]
        if not rec["ok"] or q in wrong:
            continue
        res = os.path.join(work, "results", str(rec["pass"]), q)
        if rec["pass"] == last:
            why = oracle.compare(res, expected[q])
        else:
            n = oracle.count_rows(res)
            why = (None if n == expected[q].num_rows else
                   f"pass {rec['pass']} wrote {n} rows, oracle has "
                   f"{expected[q].num_rows}")
        if why:
            wrong[q] = why
    for e in raw["errors"]:
        log(f"failed: {e}")
    for q, why in sorted(wrong.items()):
        log(f"wrong result: {q}: {why}")

    broken = []
    if a.trace:
        values, per_query, broken = metrics.per_layer(raw, input_rows,
                                                      input_bytes)
        for why in broken:
            log(f"trace accounting: {why}")
        names = bench["per_layer"]
        with open(os.path.join(work, "trace.jsonl"), "w") as f:
            for s in metrics.spans(raw, a.workload):
                f.write(json.dumps(s) + "\n")
        for q, b in per_query.items():
            print(f"{q}.wall_s={b['wall_ms'] / 1e3:.4f} "
                  f"{q}.jobs={b['jobs']:g} "
                  f"build_self_s={b['build_self_ms'] / 1e3:.4f} "
                  f"action_self_s={b['action_self_ms'] / 1e3:.4f} "
                  f"job_union_s={b['job_union_ms'] / 1e3:.4f} "
                  f"identity_err={b['identity_err']:.4f}")
    else:
        values, batch = metrics.end_to_end(raw, input_rows, setups, MIN_WARM)
        names = bench["end_to_end"]
        print(f"batch_s: median of {batch['n']} warm passes"
              + "".join(f", {k}={v:.4f}" for k, v in batch.items()
                        if k.startswith("p")))
        # one sample a run, and its spread between runs follows the host's
        # load too closely to gate on (see README.md)
        print(f"cold_batch_s = {values['cold_batch_s']:.6g} s (not gated)")
    tables = ", ".join(f"{t}={s['rows']}" for t, s in sorted(sizes.items()))
    print(f"inputs: {input_rows} rows, {input_bytes} bytes ({tables})")
    result = {}
    for m in names:
        result[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
    phase("check")
    failed = raw["failed"]
    correct = not wrong and failed == 0 and not broken
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": failed, "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
