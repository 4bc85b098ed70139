#!/usr/bin/env python3
"""Round-close standing-gate runner — THE checklist, as code.

Regenerates every standing strict value-hash gate on the CURRENT tree,
one fresh verify_local JVM per gate (heap hygiene; matches the sf1
runner's per-batch recycling rationale).  Gates, in order:

  sf0.01     driver-scale oracle corpus
  sf0.1      10× (scale-dependent value bugs)
  empty      schema-only tables (ANSI empty-input semantics)
  nulls      20% null injection, sf0.001 base
  skew       mega-key collapse, sf0.001 base
  nulls10x   null injection re-based on sf0.01
  skew10x    mega-key collapse re-based on sf0.01
  unicode    CJK / emoji-ZWJ / combining / RTL / full-width (r15)
  extreme    IEEE-754 edges, boundary int64, year-0001/9999 ts (r15)
  combined   unicode × skew × nulls × extremes, decorrelated —
             STANDING since r16 (VERDICT r15 #2: highest exercise
             power of any axis; caught in one round what three rounds
             of single-axis gates missed)
  layout     chaos physical layout: small files, 1-row row-groups,
             schema-evolved shards, hive dirs — STANDING since r16

The sf1 full-registry sweep is NOT run here (it is a ~1 h marathon
with its own batch runner): run ``python tools/sf1_partsupp_check.py
--keep`` separately at round close.

Usage: python tools/run_gates.py <label> [gate ...]
  e.g. python tools/run_gates.py pr12           # all gates
       python tools/run_gates.py pr12 combined layout
Writes LOCAL_VERIFY_<label>_<gate>.json into the repo root (the label
is used verbatim: ``pr12 sf0.01`` -> LOCAL_VERIFY_pr12_sf0.01.json) and
prints a one-line summary per gate; exit code = number of non-green
gates.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _sweep(sf_dir: str, out: str) -> int:
    return subprocess.call(
        [sys.executable, os.path.join(REPO, "tools", "verify_local.py"),
         "--json", out, sf_dir],
    )


def _build_robustness(dst: str, src: str, **kw) -> None:
    import tools.robustness_sweep as R

    prev = R.SRC
    R.SRC = src
    try:
        R.build(dst, **kw)
    finally:
        R.SRC = prev


def main() -> int:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    label = sys.argv[1]
    only = set(sys.argv[2:])

    import tools.combined_corpus as C
    import tools.extreme_corpus as X
    import tools.layout_corpus as L
    import tools.unicode_corpus as U

    sf001 = "/root/testdata/sf0.001"
    sf01 = "/root/testdata/sf0.01"

    GATES: "list[tuple[str, str, object]]" = [
        ("sf0.01", sf01, None),
        ("sf0.1", "/root/testdata/sf0.1", None),
        ("empty", "/tmp/sf_empty",
         lambda: _build_robustness("/tmp/sf_empty", sf001, nulls=False)),
        ("nulls", "/tmp/sf_nulls",
         lambda: _build_robustness("/tmp/sf_nulls", sf001, nulls=True)),
        ("skew", "/tmp/sf_skew",
         lambda: _build_robustness("/tmp/sf_skew", sf001, skew=True)),
        ("nulls10x", "/tmp/sf_nulls10x",
         lambda: _build_robustness("/tmp/sf_nulls10x", sf01, nulls=True)),
        ("skew10x", "/tmp/sf_skew10x",
         lambda: _build_robustness("/tmp/sf_skew10x", sf01, skew=True)),
        ("unicode", "/tmp/sf_unicode", lambda: U.build("/tmp/sf_unicode")),
        ("extreme", "/tmp/sf_extreme", lambda: X.build("/tmp/sf_extreme")),
        ("combined", "/tmp/sf_combined", lambda: C.build("/tmp/sf_combined")),
        ("layout", "/tmp/sf_layout", lambda: L.build("/tmp/sf_layout")),
    ]

    bad = 0
    for name, sf_dir, build in GATES:
        if only and name not in only:
            continue
        t0 = time.time()
        if build is not None:
            build()
        out = os.path.join(REPO, f"LOCAL_VERIFY_{label}_{name}.json")
        rc = _sweep(sf_dir, out)
        n_green = n_q = -1
        if os.path.exists(out):
            with open(out) as f:
                rep = json.load(f)
            qrows = rep.get("queries", rep)
            n_q = len(qrows)
            n_green = sum(
                1 for v in qrows.values()
                if v.get("hash_match")
                or (v.get("rows_only") and not v.get("err"))
            )
        ok = (rc == 0) and (n_green == n_q)
        bad += 0 if ok else 1
        print(f"[gate {name}] {'GREEN' if ok else 'RED'} "
              f"{n_green}/{n_q} in {time.time() - t0:.0f}s -> {out}",
              flush=True)
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
