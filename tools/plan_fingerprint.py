#!/usr/bin/env python
"""Plan-fingerprint gate: one hash of the analyzed plan per contract
query, committed so a refactor can prove it left every plan alone.

The committed file, ``plans/fingerprints_sf0.01.json``, holds
``{"sf_dir": <fixture directory>, "queries": {query: sha256}}``. It
names its fixture because plans carry data-derived literals (tiling
cutoffs), so a hash means something only against the data it was
built from; both modes build against that directory.

For each ``__spark_entry__.queries()`` entry the tool clears tiling's
plan-literal memo, builds the DataFrame cold (plan-build jobs such as
eager checkpoints and tiling cutoffs run as usual), and hashes
``queryExecution().analyzed()``. The analyzed plan is used rather than
the optimized one because the optimizer's distinct-aggregate rewrite
orders its ``Expand`` by expression id, which differs between builds.
Before hashing, the per-session counters are normalised away:
expression ids (``#12``, ``#12L``), ``plan_id=N`` tags and the fresh
lambda-variable names pyspark generates (``x_3``, ``y_4``, ``z_5``).

Usage (from the repo root, with the repo on PYTHONPATH):

    PYTHONPATH=. python tools/plan_fingerprint.py          # rewrite the hashes
    PYTHONPATH=. python tools/plan_fingerprint.py --check  # gate a refactor

``--check`` exits 1 and names every query whose hash changed, appeared
or disappeared. Launched from another directory, the Arrow-UDF queries
fail on the workers with ``ModuleNotFoundError``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "plans", "fingerprints_sf0.01.json")

_COUNTERS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
)


def normalise(plan: str) -> str:
    """The plan text with per-session counters replaced by fixed marks."""
    for pattern, mark in _COUNTERS:
        plan = pattern.sub(mark, plan)
    return plan


def build_fingerprint(spark, build, sf_dir: str) -> str:
    """sha256 of the normalised analyzed plan of one cold build of
    ``build(spark, sf_dir)``."""
    from ensembl_lakehouse_spark.operators import tiling

    tiling._LITERAL_CACHE.clear()  # noqa: SLF001
    df = build(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    return hashlib.sha256(normalise(plan).encode()).hexdigest()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--check", action="store_true",
        help="compare against the committed file instead of writing it",
    )
    args = ap.parse_args(argv)

    import __spark_entry__ as entry
    from ensembl_lakehouse_spark.session import get_spark

    with open(OUT) as fh:
        recorded = json.load(fh)
    sf_dir, committed = recorded["sf_dir"], recorded["queries"]

    spark = get_spark(app_name="plan-fingerprint")
    hashes = {}
    for name, build in entry.queries().items():
        try:
            hashes[name] = build_fingerprint(spark, build, sf_dir)
        except Exception as exc:  # noqa: BLE001 - a failing build is a change
            hashes[name] = f"error: {type(exc).__name__}"
        print(f"{hashes[name][:12]}  {name}", flush=True)

    if not args.check:
        with open(OUT, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": hashes}, fh,
                      indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(hashes)} fingerprints to {OUT}")
        return 0

    changed = sorted(
        n for n in committed.keys() | hashes.keys()
        if committed.get(n) != hashes.get(n)
    )
    for name in changed:
        print(f"CHANGED {name}: {committed.get(name)} -> {hashes.get(name)}")
    total = len(committed.keys() | hashes.keys())
    print(f"{len(changed)} of {total} queries changed")
    return 1 if changed else 0


if __name__ == "__main__":
    raise SystemExit(main())
