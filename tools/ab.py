"""Same-box interleaved A/B of the repository benchmark against a base
revision.

    python tools/ab.py --base HEAD~1 --pairs 5 --out BENCH_AB_x.json

The base revision is exported with ``git archive`` into a scratch
directory (``--workdir``, default a temp dir); the change is the working
tree this script lives in, committed or not.  Each pair runs
``perfbench/run.py --trace 0`` once per variant for every workload, the
two variants in alternating order (base first in even pairs), so drift
on the box hits both alike; seeds cycle through ``--seeds``.  An
untouched workload (``query_mix`` for an engine change off its path) is
the control.

The JSON artifact holds every run and, per workload, variant and
end-to-end metric, the min, median and IQR, plus the change's median
relative to the base's and the pairs in which the change read lower.  Every run's correctness and failed-operation
count is kept; a run that prints no result is recorded as such.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export_revision(rev: str, dest: Path) -> str:
    """Write ``rev``'s tree into ``dest``; returns the full commit id."""
    sha = subprocess.run(
        ["git", "rev-parse", rev], cwd=ROOT, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    dest.mkdir(parents=True, exist_ok=True)
    archive = subprocess.run(
        ["git", "archive", "--format=tar", sha], cwd=ROOT, check=True,
        capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as t:
        t.extractall(dest, filter="data")
    return sha


def run_once(root: Path, workload: str, seed: int) -> dict:
    """One ``perfbench/run.py --trace 0`` run in ``root``."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    rec = {"workload": workload, "seed": seed,
           "wall_s": round(time.time() - t0, 1), "exit": proc.returncode}
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["error"] = proc.stderr.strip().splitlines()[-5:]
        return rec
    rec.update(correct=res["correct"], attempted=res["attempted"],
               failed=res["failed"],
               metrics={k: v["value"] for k, v in res["metrics"].items()})
    return rec


def spread(values: list[float]) -> dict:
    q1, _q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"min": min(values), "median": statistics.median(values),
            "iqr": round(q3 - q1, 4), "n": len(values)}


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    for wl in sorted({r["workload"] for r in runs}):
        per: dict = {}
        for variant in ("base", "change"):
            ok = [r for r in runs if r["workload"] == wl
                  and r["variant"] == variant and "metrics" in r]
            names = sorted({k for r in ok for k in r["metrics"]})
            per[variant] = {
                "runs": len(ok),
                "failed_ops": sum(r["failed"] for r in ok),
                "all_correct": all(r["correct"] for r in ok),
                "metrics": {n: spread([r["metrics"][n] for r in ok])
                            for n in names if len(ok) >= 2},
            }
        per["change_vs_base_median"] = {
            n: round(m["median"] / per["base"]["metrics"][n]["median"] - 1, 4)
            for n, m in per["change"]["metrics"].items()
            if per["base"]["metrics"].get(n, {}).get("median")
        }
        # every end-to-end metric is lower-is-better (BENCHMARK.json)
        pairs: dict = {}
        for r in runs:
            if r["workload"] == wl and "metrics" in r:
                pairs.setdefault(r["pair"], {})[r["variant"]] = r["metrics"]
        both = [p for p in pairs.values() if len(p) == 2]
        per["pairs_change_lower"] = {
            n: f"{sum(p['change'][n] < p['base'][n] for p in both)}/{len(both)}"
            for n in per["change_vs_base_median"]
        }
        out[wl] = per
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--workloads", default="etl_daily,query_mix")
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--workdir", help="where the base tree is exported")
    ap.add_argument("--out", required=True, help="JSON artifact path")
    args = ap.parse_args(argv)

    workdir = Path(args.workdir or tempfile.mkdtemp(prefix="ab-"))
    base_root = workdir / "base"
    base_sha = export_revision(args.base, base_root)
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True).stdout.strip()
    dirty = bool(subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
        capture_output=True, text=True).stdout.strip())
    roots = {"base": base_root, "change": ROOT}
    workloads = args.workloads.split(",")
    seeds = [int(s) for s in args.seeds.split(",")]

    runs: list[dict] = []
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for wl in workloads:
            for variant in order:
                rec = run_once(roots[variant], wl, seeds[i % len(seeds)])
                rec.update(pair=i, variant=variant)
                runs.append(rec)
                shown = {k: rec.get("metrics", {}).get(k)
                         for k in ("setup_s", "cycles_cpu_s")}
                print(f"pair {i} {wl} {variant}: {shown} "
                      f"failed={rec.get('failed')}", file=sys.stderr,
                      flush=True)
    artifact = {
        "tool": "tools/ab.py",
        "base": base_sha,
        "change": f"{head} + working tree" if dirty else head,
        "pairs": args.pairs,
        "workloads": workloads,
        "seeds": seeds,
        "nproc": os.cpu_count(),
        "runs": runs,
        "summary": summarize(runs),
    }
    Path(args.out).write_text(json.dumps(artifact, indent=1) + "\n")
    print(json.dumps(artifact["summary"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
