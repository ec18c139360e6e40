"""Interleaved A/B of the benchmark between a git ref and this checkout.

Usage (from anywhere):

    python scripts/ab.py <git-ref> --workload <w> [--pairs N] [--trace]

The base side is ``git archive <ref>``, unpacked once into
``<tempdir>/spark-graft-ab/<full sha>/`` (``tempfile.gettempdir()``,
normally ``/tmp``) with the sha written to its ``AB_SHA`` file, which
is checked every time the directory is reused. The head side is the
working tree of the checkout this script lives in; its ``HEAD`` and
whether the tree is dirty are reported.

Pair ``i`` (1..N) runs the command of ``BENCHMARK.json`` with
``--workload w --seed i --seconds <run_seconds> --trace 0|1`` once in
each root, one process at a time; the base goes first in odd pairs and
the head in even ones, so a host that drifts during the session slows
both sides alike. A run that exits non-zero, prints no result line or
reports ``correct: false`` is listed, its pair is left out, the other
pairs still run, and the script exits 1.

For every metric the report gives the base and head medians over the
valid pairs, head/base, the head's wins (ties count for neither side)
and the base's interquartile range, and a verdict:

- ``regression``: the head's median is worse than the base's by more
  than the metric's ``bound`` in ``BENCHMARK.json`` (for a metric with
  no bound: the head loses the pairs the way a gain wins them);
- ``gain``: at least ``MIN_PAIRS`` valid pairs, the head wins at least
  9/10 of them, its median is better by more than the base's IQR, and
  the run-to-run spread (IQR / median, the wider side) is inside the
  bound unless every head run beats every base run;
- ``unresolved``: fewer than ``MIN_PAIRS`` valid pairs, or a spread
  wider than the bound with the runs overlapping;
- ``flat``: otherwise.

Then each op's median wall and build+action jobs per side. The output
is that table and then one JSON summary line. The script refuses a ref
whose ``perfbench/`` or ``BENCHMARK.json`` differs from the working
tree: numbers taken under two different benchmarks do not compare.
"""

from __future__ import annotations

import argparse
import io
import json
import math
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(tempfile.gettempdir(), "spark-graft-ab")
STAMP = "AB_SHA"
MIN_PAIRS = 10
WIN_SHARE = 0.9
# run.py ends a run within 180 s; a process still alive long after that hangs
RUN_TIMEOUT_S = 600
SIDES = ("base", "head")

OP_LINE = re.compile(r"^op (\S+): wall ([\d.]+) s, build ([\d.]+) s, (\d+)\+(\d+) jobs")


@dataclass
class Run:
    side: str
    seed: int
    code: int | None  # None: killed after RUN_TIMEOUT_S
    result: dict | None = None  # run.py's final JSON line
    ops: dict[str, tuple[float, float, int, int]] = field(default_factory=dict)
    tail: str = ""  # last stderr line, shown when the run fails

    @property
    def ok(self) -> bool:
        return self.code == 0 and self.result is not None and self.result.get("correct") is True


def parse(stdout: str) -> tuple[dict | None, dict[str, tuple[float, float, int, int]]]:
    """run.py's final JSON line (None when absent) and its op lines:
    name -> (wall s, build s, build jobs, action jobs)."""
    lines = stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or "metrics" not in result:
        result = None
    ops = {}
    for line in lines:
        m = OP_LINE.match(line)
        if m:
            ops[m[1]] = (float(m[2]), float(m[3]), int(m[4]), int(m[5]))
    return result, ops


def run_perfbench(root: str, argv: list[str]) -> tuple[int | None, str, str]:
    """One benchmark process in ``root``: (exit code or None, stdout, stderr)."""
    try:
        p = subprocess.run(argv, cwd=root, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as exc:  # its output is bytes even with text=True
        return None, (exc.stdout or b"").decode(), (exc.stderr or b"").decode()
    return p.returncode, p.stdout, p.stderr


def run_pairs(roots: dict[str, str], command: list[str], workload: str, seconds: float,
              trace: bool, n: int) -> list[Run]:
    runs = []
    for seed in range(1, n + 1):
        for side in SIDES if seed % 2 else SIDES[::-1]:
            code, out, err = run_perfbench(roots[side], command + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", f"{seconds:g}", "--trace", str(int(trace))])
            result, ops = parse(out)
            run = Run(side, seed, code, result, ops, (err.strip().splitlines() or [""])[-1][:300])
            runs.append(run)
            print(f"pair {seed} {side}: {'ok' if run.ok else 'FAILED'}"
                  + "".join(f" {k}={v['value']:.4g}" for k, v in (result or {}).get("metrics", {}).items()
                            if k in ("pass_s", "op_geomean_s", "setup_s")),
                  file=sys.stderr, flush=True)
    return runs


# -- statistics --------------------------------------------------------


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def relative(x: float, ref: float) -> float:
    return x / abs(ref) if ref else (0.0 if x == 0 else math.inf)


def verdict(base: list[float], head: list[float], better: str, bound: float | None) -> dict:
    """Compare pair-aligned samples (``base[i]`` and ``head[i]`` come
    from pair i) of one metric; see the module docstring."""
    n = len(base)
    sign = 1.0 if better == "lower" else -1.0
    bm, hm, base_iqr = statistics.median(base), statistics.median(head), iqr(base)
    wins = sum(sign * (b - h) > 0 for b, h in zip(base, head))
    losses = sum(sign * (h - b) > 0 for b, h in zip(base, head))
    gap = sign * (bm - hm)  # > 0: the head is better
    spread = max(relative(base_iqr, bm), relative(iqr(head), hm))
    apart = (max(head) < min(base)) if sign > 0 else (min(head) > max(base))

    def decisive(count: int, g: float) -> bool:
        return n >= MIN_PAIRS and count >= WIN_SHARE * n and g > base_iqr

    if bound is not None and relative(-gap, bm) > bound:
        v = "regression"
    elif bound is None and decisive(losses, -gap):
        v = "regression"
    elif decisive(wins, gap) and (bound is None or spread <= bound or apart):
        v = "gain"
    elif n < MIN_PAIRS or (bound is not None and spread > bound and not apart):
        v = "unresolved"
    else:
        v = "flat"
    return {
        "base_median": bm,
        "head_median": hm,
        "ratio": hm / bm if bm else (1.0 if hm == bm else math.inf),
        "wins": wins,
        "pairs": n,
        "base_iqr": base_iqr,
        "spread": spread,
        "verdict": v,
    }


def summarize(runs: list[Run], metrics_spec: dict[str, dict]) -> dict:
    """Verdicts per metric and per-op medians over the pairs whose two
    runs both succeeded; ``metrics_spec`` maps a metric name to its
    ``BENCHMARK.json`` entry."""
    by_seed: dict[int, dict[str, Run]] = {}
    for r in runs:
        by_seed.setdefault(r.seed, {})[r.side] = r
    valid = [p for _, p in sorted(by_seed.items()) if all(s in p and p[s].ok for s in SIDES)]
    metrics, ops = {}, {}
    if valid:
        names = [m for m in metrics_spec
                 if all(m in p[s].result["metrics"] for p in valid for s in SIDES)]
        for m in names:
            base, head = ([p[s].result["metrics"][m]["value"] for p in valid] for s in SIDES)
            metrics[m] = verdict(base, head, metrics_spec[m].get("better", "lower"),
                                 metrics_spec[m].get("bound"))
        for op in valid[0]["base"].ops:
            if all(op in p[s].ops for p in valid for s in SIDES):
                ops[op] = {
                    f"{s}_{k}": statistics.median(p[s].ops[op][i] for p in valid)
                    for s in SIDES for i, k in enumerate(("wall", "build", "build_jobs", "action_jobs"))
                }
    return {
        "valid_pairs": len(valid),
        "failed_runs": [{"side": r.side, "seed": r.seed, "code": r.code, "stderr": r.tail}
                        for r in runs if not r.ok],
        "metrics": metrics,
        "ops": ops,
    }


def table(summary: dict) -> str:
    out = [f"{'metric':<32}{'base':>11}{'head':>11}{'head/base':>10}{'wins':>7}"
           f"{'base IQR':>10}  verdict"]
    for m, s in summary["metrics"].items():
        out.append(f"{m:<32}{s['base_median']:>11.4g}{s['head_median']:>11.4g}{s['ratio']:>10.3f}"
                   f"{s['wins']:>4}/{s['pairs']:<2}{s['base_iqr']:>10.3g}  {s['verdict']}")
    if summary["ops"]:
        out.append("")
        out.append(f"{'op':<32}{'base wall':>11}{'head wall':>11}{'base jobs':>11}{'head jobs':>11}")
        for op, s in summary["ops"].items():
            jobs = [f"{s[f'{side}_build_jobs']:g}+{s[f'{side}_action_jobs']:g}" for side in SIDES]
            out.append(f"{op:<32}{s['base_wall']:>11.3f}{s['head_wall']:>11.3f}"
                       f"{jobs[0]:>11}{jobs[1]:>11}")
    for f in summary["failed_runs"]:
        out.append(f"FAILED {f['side']} seed={f['seed']} exit={f['code']}: {f['stderr']}")
    return "\n".join(out)


# -- the two roots -----------------------------------------------------


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def base_root(sha: str) -> str:
    """The ``git archive`` of ``sha`` under CACHE, made on first use."""
    root = os.path.join(CACHE, sha)
    if not os.path.isdir(root):
        os.makedirs(CACHE, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{sha}-", dir=CACHE)
        tar = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                             check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(tmp)
        with open(os.path.join(tmp, STAMP), "w") as fh:
            fh.write(sha + "\n")
        os.rename(tmp, root)
    with open(os.path.join(root, STAMP)) as fh:
        stamped = fh.read().strip()
    if stamped != sha:
        raise SystemExit(f"ab: {root} holds {stamped}, not {sha}")
    return root


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref", help="git ref of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--trace", action="store_true", help="per-layer metrics (run.py --trace 1)")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    sha = git("rev-parse", "--verify", f"{args.ref}^{{commit}}")
    if subprocess.run(["git", "diff", "--quiet", sha, "--", "perfbench", "BENCHMARK.json"],
                      cwd=ROOT).returncode != 0:
        print(f"ab: refusing: perfbench/ or BENCHMARK.json differ between {args.ref} ({sha[:12]}) "
              "and the working tree", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as fh:
        workloads = sorted(json.load(fh)["workloads"])
    if args.workload not in workloads:
        ap.error(f"--workload must be one of {workloads}")
    head_sha = git("rev-parse", "HEAD")
    dirty = bool(git("status", "--porcelain"))
    roots = {"base": base_root(sha), "head": ROOT}
    print(f"ab: base {args.ref} = {sha[:12]} ({roots['base']}); head HEAD = {head_sha[:12]} "
          f"({'dirty' if dirty else 'clean'} tree, {ROOT}); {args.workload}, {args.pairs} pairs, "
          f"--seconds {bench['run_seconds']:g} --trace {int(args.trace)}", file=sys.stderr, flush=True)

    runs = run_pairs(roots, bench["command"], args.workload, bench["run_seconds"], args.trace,
                     args.pairs)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    summary = summarize(runs, spec)
    print(f"ab {args.workload}: base {args.ref} ({sha[:12]}) vs head {head_sha[:12]}"
          f"{' (dirty)' if dirty else ''}, {summary['valid_pairs']} of {args.pairs} pairs valid")
    print(table(summary))
    print(json.dumps({"ref": args.ref, "base": sha, "head": head_sha, "dirty": dirty,
                      "workload": args.workload, "trace": args.trace, "pairs": args.pairs,
                      **summary}))
    return 1 if summary["failed_runs"] else 0


if __name__ == "__main__":
    sys.exit(main())
