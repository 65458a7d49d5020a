"""Attribute a change to layers: diff traced run records.

    python3 perfbench/attribute.py BASE.json NEW.json [BASE2.json NEW2.json ...]
    python3 perfbench/attribute.py --overhead UNTRACED.json TRACED.json

Records are the files ``run.py`` writes to ``perfbench/_out/``.  For each
(base, new) pair of traced records of one workload, prints per layer the
self time and call count per pass on both sides and their difference,
largest absolute self-time change first, then the other per-layer metrics
that changed.  Self time is a span's duration minus the part of its
interval its child spans cover.  ``--overhead`` compares an untraced and a
traced record of the same workload and prints the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import layer_totals  # noqa: E402


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def per_pass_layers(rec: dict) -> dict[str, tuple[float, float]]:
    """Layer → (self seconds, calls), per pass."""
    n = len(rec["detail"]["passes"])
    return {
        layer: (t["self_s"] / n, t["calls"] / n)
        for layer, t in layer_totals(rec["spans"]).items()
    }


def diff(base: dict, new: dict) -> list[str]:
    if base["workload"] != new["workload"]:
        raise SystemExit(f"workloads differ: {base['workload']} vs {new['workload']}")
    if not (base["trace"] and new["trace"]):
        raise SystemExit("attribution needs two traced records (--trace 1)")
    a, b = per_pass_layers(base), per_pass_layers(new)
    rows = []
    for layer in sorted(set(a) | set(b)):
        sa, ca = a.get(layer, (0.0, 0.0))
        sb, cb = b.get(layer, (0.0, 0.0))
        rows.append((sb - sa, layer, sa, sb, ca, cb))
    rows.sort(key=lambda r: -abs(r[0]))
    out = [
        f"== {new['workload']}  (pass_s {base['layers']['trace.pass_s']:.3f} -> "
        f"{new['layers']['trace.pass_s']:.3f})",
        f"{'layer':40} {'self_s base':>12} {'new':>10} {'delta':>10} {'calls base':>11} {'new':>8} {'delta':>8}",
    ]
    for d, layer, sa, sb, ca, cb in rows:
        out.append(f"{layer:40} {sa:12.4f} {sb:10.4f} {d:+10.4f} {ca:11.1f} {cb:8.1f} {cb - ca:+8.1f}")
    changed = [
        (k, base["layers"][k], v)
        for k, v in new["layers"].items()
        if k in base["layers"] and v != base["layers"][k]
    ]
    if changed:
        out.append(f"{'per-layer metric':40} {'base':>12} {'new':>10} {'delta':>10}")
        for k, va, vb in changed:
            out.append(f"{k:40} {va:12.4g} {vb:10.4g} {vb - va:+10.4g}")
    return out


def overhead(untraced: dict, traced: dict) -> str:
    plain = untraced["end_to_end"]["pass_s"]
    with_trace = traced["layers"]["trace.pass_s"]
    return (
        f"{traced['workload']}: pass_s untraced {plain:.3f} s, traced {with_trace:.3f} s, "
        f"overhead {with_trace - plain:+.3f} s ({(with_trace / plain - 1) * 100:+.1f}%), "
        f"{traced['layers']['trace.spans']:.0f} spans per pass"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("records", nargs="+")
    args = ap.parse_args(argv)
    if len(args.records) % 2:
        ap.error("records come in (base, new) pairs")
    recs = [load(p) for p in args.records]
    for base, new in zip(recs[::2], recs[1::2]):
        print(overhead(base, new) if args.overhead else "\n".join(diff(base, new)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
