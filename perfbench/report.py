"""Print the per-layer table of a traced run from its written spans.

    python3 perfbench/report.py --workload kg_build [--seed 1]
    python3 perfbench/report.py .perfbench_out/kg_build-seed1/spans.json

One row per span, indented under its parent: wall and self time, the Spark
jobs / tasks / busy share / shuffle it fired, and its JIT, codegen and GC
deltas. The run is a single client issuing one call at a time, so every span
lies on the blocking path and the self times add up to the traced wall minus
the residual (time in the workload's own code between layer calls). The
tail lists the spans by self time: a later change's saving should show up
there, in the span it claims to have moved.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def find(workload: str, seed: int | None) -> str:
    pat = f"{workload}-seed{seed if seed is not None else '*'}"
    paths = glob.glob(os.path.join(ROOT, ".perfbench_out", pat, "spans.json"))
    if not paths:
        raise SystemExit(f"no traced run of {workload} under .perfbench_out/; "
                         "run perfbench/run.py with --trace 1 first")
    return max(paths, key=os.path.getmtime)


def table(doc: dict) -> list[str]:
    spans = doc["spans"]
    cores = doc["cores"]
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    lines = [f"{'span':<24}{'wall_s':>8}{'self_s':>8}{'jobs':>6}{'tasks':>7}"
             f"{'busy':>6}{'shuf_MB':>8}{'jit_ms':>8}{'cg_ms':>7}{'gc_ms':>7}"]

    def walk(s, depth):
        sp, jvm = s["spark"], s["jvm"]
        busy = sp["run_ms"] / 1000 / (s["wall"] * cores) if s["wall"] > 0 else 0.0
        lines.append(
            f"{'  ' * depth + s['name']:<24}{s['wall']:>8.2f}{s['self']:>8.2f}"
            f"{sp['jobs']:>6}{sp['tasks']:>7}{busy:>6.2f}"
            f"{sp['shuffle_write_b'] / 1e6:>8.2f}{jvm['jit_ms']:>8.0f}"
            f"{jvm.get('codegen_ms', 0):>7.0f}{jvm['gc_ms']:>7.0f}")
        for k in kids.get(s["id"], []):
            walk(k, depth + 1)

    pair = doc.get("overhead_untraced_traced_s")
    overhead = (f"untraced {pair[0]:.3f}s, traced {pair[1]:.3f}s" if pair
                else "not measured (time limit)")
    for root in kids.get(None, []):
        walk(root, 0)
        total = root["wall"]
        inner = total - root["self"]
        lines.append(f"\nblocking path of {root['name']}: wall {total:.3f}s = "
                     f"span self times {inner:.3f}s + residual {root['self']:.3f}s")
    lines.append(f"tracing overhead pair: {overhead}")
    ranked = sorted((s for s in spans if s["parent"] is not None),
                    key=lambda s: -s["self"])
    lines.append("largest self times: " + ", ".join(
        f"{s['name']} {s['self']:.2f}s" for s in ranked[:5]))
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("spans", nargs="?", help="a spans.json written by a traced run")
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    args = p.parse_args(argv)
    if not args.spans and not args.workload:
        p.error("give a spans.json path or --workload")
    path = args.spans or find(args.workload, args.seed)
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    print(f"{doc['workload']} seed {doc['seed']} ({path})")
    print("\n".join(table(doc)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
