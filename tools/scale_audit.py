"""Superlinear-growth audit: compare per-operator times across two SFs.

The driver and tests verify CORRECTNESS at sf0.01; this tool is the
EFFICIENCY mirror.  Run the strict-compare sweep at two scale factors,
then rank operators by their time growth ratio.  With a 10x data step,
a ratio well above 10 means the operator does superlinear WORK (usually
a pair-explosion hiding behind a clean-looking equi-join plan), even
when its physical plan passes every shape guard.  Round-5 catch:
join_interval showed 127x (1.1 s -> 142 s) because the per-pair output
of a count-only interval join is quadratic in SF; pre-aggregating the
probe side flattened it to linear (2.3 s).

Usage:
    python tools/sweep_degenerate.py --sf /root/testdata/sf0.01 > v001.txt
    PYSPARK_SUBMIT_ARGS="--driver-memory 4g pyspark-shell" \
        python tools/sweep_degenerate.py --sf /root/testdata/sf0.1 > v01.txt
    # (a full-registry sf0.1 pass in one JVM needs the 4 GB driver heap;
    # the sweep releases each op's blocks after its result is consumed)
    python tools/scale_audit.py v001.txt v01.txt [--data-ratio=10]

Reads the `OK|ROWS_ONLY|FAIL <op>: ... spark_s=<sec>` verdict lines the
sweep prints (`--solo` lines, which add `wall_s=`, parse the same way).
Interpretation guide:
  ratio < data-ratio      -> sublinear (fixed overhead amortizing): fine
  ratio ~ data-ratio      -> linear: fine
  ratio >> data-ratio     -> superlinear: inspect (pair explosion,
                             iteration-count growth, skewed bucket)
Iterative ops (connected components, k-core, BFS) legitimately grow a
little past linear when the graph diameter grows with SF.
"""

from __future__ import annotations

import re
import sys

_LINE = re.compile(r"(?:OK|ROWS_ONLY|FAIL) ([a-z0-9_]+): .*\bspark_s=([0-9.]+)")


def parse_lines(lines) -> dict[str, float]:
    """``{op: spark_s}`` from sweep verdict lines; other lines are skipped."""
    out: dict[str, float] = {}
    for line in lines:
        m = _LINE.match(line.strip())
        if m:
            out[m.group(1)] = float(m.group(2))
    return out


def main(argv: list[str]) -> int:
    args = [a for a in argv if not a.startswith("--")]
    data_ratio = 10.0
    for a in argv:
        if a.startswith("--data-ratio"):
            data_ratio = float(a.split("=", 1)[1])
    if len(args) != 2:
        print(__doc__)
        return 2
    small, big = (parse_lines(open(a)) for a in args)
    rows = []
    for n, t_small in small.items():
        # sub-100ms small-SF times are scheduler floor, not work: ratios
        # computed on them are noise.
        if n in big and t_small > 0.05:
            rows.append((big[n] / t_small, t_small, big[n], n))
    rows.sort(reverse=True)
    print(f"{'ratio':>7} {'small':>7} {'big':>8}  op            (data ratio ~{data_ratio:g}x)")
    flagged = 0
    for r, t1, t2, n in rows[:25]:
        mark = "  <-- SUPERLINEAR" if r > 1.5 * data_ratio else ""
        flagged += bool(mark)
        print(f"{r:7.1f} {t1:7.2f} {t2:8.2f}  {n}{mark}")
    print(f"\n{flagged} operator(s) above 1.5x the data ratio")
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main(sys.argv[1:]))
    except BrokenPipeError:  # `| head` closed the pipe — not an error
        raise SystemExit(0)
