#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north_rule: throughput scaling
efficiency ≥0.8 between N and 4N executors).

No real cluster exists in this sandbox, so per the driver instruction
the same job runs at two parallelism levels — local[8] (=N) and
local[32] (=4N) — in separate processes on the identical input, and we
report docs/sec at both plus efficiency = (T_4N / T_N) / 4.

Methodology notes (also in BENCH/BASELINE.md):
  * separate process per level → no JVM/conf bleed-through;
  * a warm-up mapInPandas job spins up the Python worker pool and JVM
    JIT before the timed stage, so fixed startup cost (identical at
    both levels) is excluded from the throughput measurement;
  * the timed stage is the full pipeline: parquet scan → salted
    repartition → mapInArrow extraction → noop write (all columns
    computed).

Usage:  python bench/scaling.py [--docs 20000] [--replicate 32]
        (writes BENCH/scaling.json and BENCH/last_run.md; the curated
        analysis lives in BENCH/BASELINE.md)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_LEVELS = (8, 32)


PARTITIONS_PER_CORE = 6  # fine tasks → better last-wave packing


def _barrier(barrier_dir: str, idx: int, k: int, timeout_s: float = 300.0) -> None:
    """Filesystem barrier: align all executors' timed sections so one
    executor's untimed warmup never overlaps another's measurement."""
    open(os.path.join(barrier_dir, f"ready_{idx}"), "w").close()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < timeout_s:
        if len([f for f in os.listdir(barrier_dir) if f.startswith("ready_")]) >= k:
            return
        time.sleep(0.1)
    raise RuntimeError("barrier timeout")


def worker(cores: int, corpus: str, replicate: int, doc_slice: str | None = None,
           barrier: str | None = None) -> None:
    from bench import replicated_corpus, warm_up  # bench.py helpers

    from docling_pdf_spark.pipeline import extract
    from docling_pdf_spark.session import get_spark

    spark = get_spark(f"scaling-{cores}", local_cores=cores,
                      shuffle_partitions=max(cores, 32))
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, cores)

    docs = replicated_corpus(spark, corpus, replicate)
    if doc_slice:  # "i/k": this executor's disjoint shard of the input
        from pyspark.sql import functions as F

        i, k = (int(x) for x in doc_slice.split("/"))
        docs = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(k)) == i)
    n_docs = docs.count()
    if barrier:
        i, k = (int(x) for x in (doc_slice or "0/1").split("/"))
        _barrier(barrier, i, k)
    t0 = time.perf_counter()
    # salt_mode pinned: 'auto' (the library default) would run its layout
    # probe inside the timed section and skew the level comparison
    extract(
        docs, num_partitions=cores * PARTITIONS_PER_CORE, salt_mode="heavy"
    ).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    print(json.dumps({"cores": cores, "n_docs": n_docs,
                      "elapsed_sec": round(elapsed, 3),
                      "docs_per_sec": round(n_docs / elapsed, 1)}))
    spark.stop()


def _has_taskset() -> bool:
    import shutil

    return shutil.which("taskset") is not None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20_000)
    ap.add_argument("--replicate", type=int, default=32)
    ap.add_argument("--worker-cores", type=int, default=None)
    ap.add_argument("--doc-slice", type=str, default=None,
                    help="i/k — worker processes only its input shard")
    ap.add_argument("--barrier-dir", type=str, default=None)
    ap.add_argument("--mode", choices=("single", "executors"), default="single",
                    help="single: one JVM with N vs 4N threads; executors: "
                         "1 vs 4 separate N-core JVM processes on disjoint "
                         "cores and input shards (the north rule's actual "
                         "N-vs-4N-executor shape)")
    ap.add_argument("--levels", type=int, nargs=2, default=list(DEFAULT_LEVELS),
                    metavar=("N", "N4"), help="the two parallelism levels (N, 4N)")
    ap.add_argument("--trials", type=int, default=1,
                    help="runs per level; median docs/sec is reported "
                         "(damps transient host interference)")
    args = ap.parse_args()
    levels = tuple(args.levels)

    from bench import ensure_corpus

    corpus = ensure_corpus(
        os.path.join(REPO, ".bench", f"corpus_{args.docs}.parquet"), args.docs
    )

    if args.worker_cores:  # subprocess mode
        worker(args.worker_cores, corpus, args.replicate, args.doc_slice,
               args.barrier_dir)
        return 0

    if args.mode == "executors":
        return run_executor_grid(args, corpus, levels)

    def run_level(cores: int) -> dict:
        # pin the whole process tree (JVM + python workers) to exactly
        # `cores` hardware cores — otherwise local[8] borrows the other
        # 24 cores for its Python workers and the baseline is inflated
        # (a real 8-core executor has no spare cores to borrow)
        cmd = [sys.executable, os.path.abspath(__file__),
               "--docs", str(args.docs), "--replicate", str(args.replicate),
               "--worker-cores", str(cores)]
        if _has_taskset():
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, check=True,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        print(line)
        return json.loads(line)

    # paired trials: run N and 4N back-to-back so both see the same
    # host conditions — this shared sandbox swings 2× between quiet and
    # noisy windows, and pairing cancels the common-mode noise in the
    # ratio. Median PAIR efficiency is reported.
    n, n4 = levels
    pairs = []
    for _ in range(args.trials):
        a = run_level(n)
        b = run_level(n4)
        pairs.append((b["docs_per_sec"] / a["docs_per_sec"] / (n4 / n), a, b))
    pairs.sort(key=lambda p: p[0])
    eff, a_med, b_med = pairs[len(pairs) // 2]
    summary = {
        "levels": {str(n): dict(a_med, trials=args.trials),
                   str(n4): dict(b_med, trials=args.trials)},
        "pair_efficiencies": [round(p[0], 3) for p in pairs],
        "scaling_efficiency": round(eff, 3),
        "passes_0.8_gate": eff >= 0.8,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))
    _write_md(summary, args, levels)
    return 0


def run_executor_grid(args, corpus: str, levels) -> int:
    """N executors vs 4N-worth-of-executors as SEPARATE OS processes on
    disjoint core ranges and disjoint input shards — a faithful
    single-box model of a 1-executor vs 4-executor cluster (per-executor
    JVM, Python pool, cores and heap all constant across the two sizes).
    Efficiency = total_docs/max(executor walls) at 4 executors over
    4 × the 1-executor throughput, median of paired trials."""
    n, n4 = levels
    per_exec = n  # each executor gets N cores; the 4N level runs 4 of them

    def launch(exec_idx: int, n_execs: int, barrier_dir: str):
        lo = exec_idx * per_exec
        cmd = ["taskset", "-c", f"{lo}-{lo + per_exec - 1}",
               sys.executable, os.path.abspath(__file__),
               "--docs", str(args.docs), "--replicate", str(args.replicate),
               "--worker-cores", str(per_exec),
               "--barrier-dir", barrier_dir,
               "--doc-slice", f"{exec_idx}/{n_execs}"]
        return subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=REPO)

    def run_size(n_execs: int) -> dict:
        import tempfile

        barrier_dir = tempfile.mkdtemp(prefix="grid_barrier_")
        procs = [launch(i, n_execs, barrier_dir) for i in range(n_execs)]
        outs = []
        for p in procs:
            out, _ = p.communicate()
            if p.returncode != 0:
                raise RuntimeError(f"executor failed: rc={p.returncode}")
            outs.append(json.loads(
                [ln for ln in out.splitlines() if ln.startswith("{")][-1]))
        total = sum(o["n_docs"] for o in outs)
        wall = max(o["elapsed_sec"] for o in outs)
        r = {"executors": n_execs, "cores_per_executor": per_exec,
             "n_docs": total, "wall_sec": round(wall, 3),
             "docs_per_sec": round(total / wall, 1),
             "per_executor_docs_per_sec": [o["docs_per_sec"] for o in outs]}
        print(json.dumps(r))
        return r

    pairs = []
    for _ in range(args.trials):
        a = run_size(1)
        b = run_size(n4 // n)
        pairs.append((b["docs_per_sec"] / a["docs_per_sec"] / (n4 / n), a, b))
    pairs.sort(key=lambda p: p[0])
    eff, a_med, b_med = pairs[len(pairs) // 2]
    try:
        git_rev = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        git_rev = None
    run = {
        "recorded": time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime()),
        "git_rev": git_rev,
        "levels": {"1_executor": a_med, f"{n4 // n}_executors": b_med},
        "pair_efficiencies": [round(p[0], 3) for p in pairs],
        "scaling_efficiency": round(eff, 3),
        "passes_0.8_gate": eff >= 0.8,
    }
    # append-only history: a noisy-window FAIL must never erase a
    # recorded quiet-window PASS (this host's afternoon bus contention
    # produces 0.73-0.75 pairs for code that measures 0.85+ in quiet
    # windows — both belong in the record, attributed)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", "scaling_executors.json")
    history = []
    if os.path.exists(out_path):
        try:
            prev = json.load(open(out_path))
            if not isinstance(prev, dict):
                prev = {}
            history = prev.get("history", [])
            if not history:  # legacy single-run file
                history = [{k: prev[k] for k in
                            ("levels", "pair_efficiencies",
                             "scaling_efficiency", "passes_0.8_gate")
                            if k in prev}]
        except (json.JSONDecodeError, OSError):
            pass
    history.append(run)
    # best run is informational only; a migrated legacy entry may lack
    # keys, so never index it directly
    best = max(
        (h for h in history if h.get("passes_0.8_gate")),
        key=lambda h: h.get("scaling_efficiency", 0.0),
        default=run,
    )
    summary = {
        "mode": "executors",
        "gate": "throughput scaling efficiency >= 0.8 between N and 4N executors",
        "best_passing_run": best,
        "history": history,
        # top-level mirrors: the CURRENT run — these keys historically
        # meant "this run", and mirroring the best historical pass here
        # would hide a genuine regression behind a stale green (a
        # consumer reading passes_0.8_gate must see today's code's
        # result; the quiet-window evidence lives in best_passing_run
        # and history, attributed)
        "levels": run["levels"],
        "pair_efficiencies": run["pair_efficiencies"],
        "scaling_efficiency": run["scaling_efficiency"],
        "passes_0.8_gate": run["passes_0.8_gate"],
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(run))
    return 0


def _write_md(s: dict, args, levels=DEFAULT_LEVELS) -> None:
    n, n4 = levels
    a, b = s["levels"][str(n)], s["levels"][str(n4)]
    md = f"""# BENCH/BASELINE.md — measured scaling evidence

North-rule gate: throughput scaling efficiency ≥ 0.8 between N and 4N
executors. No real cluster exists in this sandbox, so (per driver
instruction) the SAME job ran at two parallelism levels in separate
processes on identical input.

**Job**: parquet scan → salted repartition → mapInArrow extraction
(full strict/lenient/raw ladder, HTML strip, span encoding) → noop
write. Input: deterministic fixture corpus, {args.docs} docs × {args.replicate}
JVM-side replicas = {a["n_docs"]} documents (interleaved text/html/pdf/media,
Zipf-skewed with 0.5% oversized cohort).

| parallelism | documents | elapsed (s) | docs/sec |
|---|---|---|---|
| local[{n}]  (N)  | {a["n_docs"]} | {a["elapsed_sec"]} | {a["docs_per_sec"]} |
| local[{n4}] (4N) | {b["n_docs"]} | {b["elapsed_sec"]} | {b["docs_per_sec"]} |

**Scaling efficiency = ({b["docs_per_sec"]} / {a["docs_per_sec"]}) / 4 =
{s["scaling_efficiency"]}** — gate ≥ 0.8: **{"PASS" if s["passes_0.8_gate"] else "FAIL"}**.

Methodology: separate process per level (no JVM bleed-through); Python
worker pool + JIT warmed by an untimed mapInPandas job before the timed
stage; timed stage computes every output column (noop write, no count()
shortcut). Reproduce: `python bench/scaling.py`.

Reference baseline context (SURVEY.md §6): the reference publishes no
benchmarks and its demo sleeps cap it below 1 doc/sec/process; the
serial oracle (same semantics, one process) runs ≈1.0k docs/sec, so
local[{n4}] at {b["docs_per_sec"]} docs/sec is a ≈{round(b["docs_per_sec"] / 1000, 1)}× speedup over
the single-process semantics at this corpus mix.
"""
    with open(os.path.join(REPO, "BENCH", "last_run.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    raise SystemExit(main())
