"""Interleaved A/B bench: HEAD vs a prior git rev, same box-hours.

Usage:
    python tools/ab_interleave.py --rev <git-rev> --keys k1,k2 [--passes 3]
                                  [--label name]
    python tools/ab_interleave.py --rev <git-rev> --workload edit_sync
                                  --seeds 11-20 [--label name]

Why (r12 verdict item 1): cross-day medians on this host are contaminated
by CPU-steal waves, so a single bench run cannot adjudicate "regression vs
noise". This tool runs the SAME work against HEAD (the working tree) and
against an export of the prior rev (``git archive`` into ``--workdir``) in
strict alternation, each run a fresh process, and stamps every run with
its CPU steal. A real code regression shows up in EVERY pair regardless of
which box-window it landed in; a wave inflates whichever side happened to
run inside it and averages out across the interleave.

``--keys`` mode runs ``bench.py`` with BENCH_RUNS=1 on the given keys, A B
B A ... over ``--passes``, and writes bench_records/AB_<label>.json:
    {"rev": ..., "keys": [...], "passes": {"head": [{...timings, box}],
     "prev": [...]}, "medians": {...}, "ratio": {key: head/prev}}

``--workload`` mode runs the end-to-end benchmark
(``benchmark/run.py --trace 0`` with BENCHMARK.json's ``run_seconds``) once
per seed on each side; the side that runs first alternates from one seed to
the next. bench_records/AB_<label>.json then holds every pair (each side's
end-to-end metrics, failed/attempted, CPU steal, exit code) and, per
end-to-end metric of BENCHMARK.json, each side's median and quartiles and
the number of pairs in which the change (HEAD) was better.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8])


def _loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def _run_bench(repo_dir: str, keys: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = keys
    env["SPARK_GRAFT_BENCH_RUNS"] = env.get("AB_BENCH_RUNS", "1")
    s0, l0 = _steal(), _loadavg()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo_dir, env=env, capture_output=True, text=True, timeout=3600,
    )
    s1, l1 = _steal(), _loadavg()
    line = ""
    for ln in reversed(proc.stdout.strip().splitlines()):
        if ln.startswith("{"):
            line = ln
            break
    rec: dict = {"rc": proc.returncode}
    try:
        parsed = json.loads(line)
        rec["queries"] = parsed.get("queries", {})
    except (json.JSONDecodeError, ValueError):
        rec["queries"] = {}
        rec["stdout_tail"] = proc.stdout[-500:]
        rec["stderr_tail"] = proc.stderr[-500:]
    rec["box"] = {
        "loadavg_start": l0, "loadavg_end": l1,
        "steal_sec": round((s1 - s0) / 100.0, 1),
    }
    return rec


def _checkout(rev: str, workdir: str) -> str:
    """An export of ``rev`` (its committed files) under ``workdir``."""
    dest = os.path.join(workdir, f"kdb_ab_{rev[:12].replace('/', '_')}")
    if not os.path.isdir(dest):
        archive = subprocess.run(
            ["git", "archive", rev], cwd=REPO, check=True, capture_output=True
        ).stdout
        os.makedirs(dest)
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def _seeds(spec: str) -> list[int]:
    """'11-20' or '11,13,17' -> seed list."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def _run_e2e(repo_dir: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark/run.py; its result line, box line and steal."""
    s0 = _steal()
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=repo_dir, capture_output=True, text=True, timeout=3600,
    )
    rec: dict = {"rc": proc.returncode, "steal_s": round((_steal() - s0) / 100.0, 1)}
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        rec.update(
            metrics={k: v["value"] for k, v in result["metrics"].items()},
            failed=result["failed"], attempted=result["attempted"],
        )
        rec["box"] = json.loads(lines[0])["box"]
    except (IndexError, KeyError, ValueError):
        rec["stderr_tail"] = proc.stderr[-500:]
    return rec


def _quartiles(vals: list[float]) -> dict:
    if len(vals) < 2:
        vals = vals * 2
    q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def _e2e_main(args) -> None:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    prev_dir = _checkout(args.rev, args.workdir)
    pairs = []
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ["change", "parent"] if i % 2 == 0 else ["parent", "change"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = _run_e2e(
                REPO if side == "change" else prev_dir,
                args.workload, seed, spec["run_seconds"],
            )
            print(f"seed {seed} {side}: {pair[side].get('metrics')} "
                  f"failed={pair[side].get('failed')} steal={pair[side]['steal_s']}",
                  flush=True)
        pairs.append(pair)

    summary = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [
            (p["parent"]["metrics"][name], p["change"]["metrics"][name])
            for p in pairs if "metrics" in p["parent"] and "metrics" in p["change"]
        ]
        if not both:
            continue
        summary[name] = {
            "parent": _quartiles([a for a, _ in both]),
            "change": _quartiles([b for _, b in both]),
            "change_wins": sum((b < a) if lower else (b > a) for a, b in both),
            "pairs": len(both),
        }
    for side in ("parent", "change"):
        runs = [p[side] for p in pairs]
        summary[f"error_rate.{side}"] = round(
            sum(r.get("failed", 0) for r in runs)
            / max(1, sum(r.get("attempted", 0) for r in runs)), 4)
        summary[f"broken_runs.{side}"] = sum("metrics" not in r for r in runs)

    label = args.label or f"{args.workload}_{args.rev[:12]}"
    out_path = os.path.join(REPO, "bench_records", f"AB_{label}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump({"rev": args.rev, "workload": args.workload, "pairs": pairs,
                   "summary": summary}, fh, indent=1)
        fh.write("\n")
    print(f"wrote {out_path}")
    print(json.dumps(summary))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", required=True)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--keys")
    mode.add_argument("--workload", choices=("edit_sync", "curate"))
    ap.add_argument("--seeds", help="with --workload: e.g. 11-20")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--label", default=None)
    ap.add_argument("--workdir", default=tempfile.gettempdir())
    args = ap.parse_args()
    if args.workload:
        if not args.seeds:
            ap.error("--workload needs --seeds")
        _e2e_main(args)
        return

    wt = _checkout(args.rev, args.workdir)

    passes: dict[str, list[dict]] = {"head": [], "prev": []}
    # balanced alternation: pass i runs (head, prev) on even i, (prev, head)
    # on odd i — neither side systematically inherits a warmer page cache or
    # a particular box window
    for i in range(args.passes):
        order = (
            [("head", REPO), ("prev", wt)]
            if i % 2 == 0
            else [("prev", wt), ("head", REPO)]
        )
        for side, repo_dir in order:
            rec = _run_bench(repo_dir, args.keys)
            passes[side].append(rec)
            qsum = {
                k: v for k, v in rec["queries"].items()
                if isinstance(v, (int, float)) and not isinstance(v, bool)
            }
            print(f"pass {i} {side}: {qsum} box={rec['box']}", flush=True)

    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    medians: dict[str, dict[str, float]] = {}
    ratio: dict[str, float] = {}
    for k in keys:
        med: dict[str, float] = {}
        for side in ("head", "prev"):
            vals = [
                p["queries"][k] for p in passes[side]
                if isinstance(p["queries"].get(k), (int, float))
                and not isinstance(p["queries"].get(k), bool)
            ]
            if vals:
                med[side] = round(statistics.median(vals), 3)
        medians[k] = med
        if med.get("head") and med.get("prev"):
            ratio[k] = round(med["head"] / med["prev"], 3)

    label = args.label or args.rev[:12]
    out_path = os.path.join(REPO, "bench_records", f"AB_{label}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(
            {"rev": args.rev, "keys": keys, "passes": passes,
             "medians": medians, "ratio_head_over_prev": ratio},
            fh, indent=1,
        )
        fh.write("\n")
    print(f"wrote {out_path}")
    print(json.dumps({"medians": medians, "ratio": ratio}))


if __name__ == "__main__":
    main()
