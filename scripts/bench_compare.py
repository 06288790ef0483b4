"""Per-query bench regression gate.

Totals on this box are contention-noisy (identical code swings 50–155 s at
sf0.1), so regressions are judged PER QUERY against the committed
``BENCH_BASELINE.json`` (round-1 numbers). A query regresses when it is both
> ``--factor`` × its baseline AND > ``--slack`` seconds absolute (the slack
filters sub-second jitter and first-call codegen).

Usage:
    python bench.py > /tmp/bench.json   # one stdout line: the full record
    python scripts/bench_compare.py /tmp/bench.json
    python scripts/bench_compare.py --run        # runs bench.py itself
    python scripts/bench_compare.py /tmp/bench.json --refresh \
        [--allow-lower | --allow-lower-for QUERY ...]

Exits 1 listing regressed queries, 0 otherwise. New queries (absent from the
baseline) are reported informationally and never fail the gate.

BASELINE REFRESH PROTOCOL (the one way BENCH_BASELINE.json may change —
recorded in BASELINE.md): ``--refresh`` min-merges the given run into the
baseline.  New queries are added; an existing entry is NEVER raised (a
raised baseline is exactly how a regression hides behind a "refresh"); and
an existing entry is only LOWERED when ``--allow-lower`` is passed
explicitly (a lucky scheduler-quiet run would otherwise tighten the gate
into false positives silently).  Historical raw tails stay committed as
BENCH_r{N}.json, so any baseline change is diffable against the runs that
justified it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_current(args) -> dict:
    if args.run:
        import time

        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, check=True,
        )
        # Prefer THIS run's stdout JSON line; fall back to BENCH_SELF.json
        # (the durable copy) only if stdout was polluted. Never silently
        # compare against a stale committed file when the fresh run's
        # output is parseable.
        for line in reversed(proc.stdout.strip().splitlines()):
            try:
                parsed = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(parsed, dict) and "queries" in parsed:
                return parsed
        # the fresh run's durable copy — but ONLY if this run wrote it (a
        # stale gitignored .run.json from an old session must not shadow
        # anything). If neither stdout nor a fresh run file is usable,
        # FAIL: gating an old record against the baseline would pass a
        # genuinely regressed build (review findings, round 9 — never
        # silently compare a stale file).
        run_path = os.path.join(REPO, "BENCH_SELF.run.json")
        if os.path.exists(run_path) and os.path.getmtime(run_path) >= t0:
            with open(run_path) as f:
                return json.load(f)
        sys.exit(
            "--run produced no parseable per-query line on stdout and no "
            "fresh BENCH_SELF.run.json — refusing to gate against a stale "
            "record; inspect bench.py's output directly"
        )
    with open(args.bench_json) as f:
        return json.load(f)


def refresh_baseline(
    base: dict, cur: dict, allow_lower: bool, lower_for: set[str] = frozenset()
) -> tuple[dict, list[str]]:
    """Min-merge ``cur`` into ``base`` under the refresh protocol: add new
    entries, never raise an existing one, lower only when ``allow_lower``
    (every entry) or the entry is named in ``lower_for`` (the targeted
    form for a genuine plan rework — a lucky quiet run must not tighten
    UNRELATED entries as a side effect of re-baselining one query).
    Returns (merged, report lines)."""
    merged = dict(base)
    report = []
    for name, t in sorted(cur.items()):
        b = base.get(name)
        if b is None:
            merged[name] = t
            report.append(f"ADDED    {name}: {t:.2f}s")
        elif t < b:
            if allow_lower or name in lower_for:
                merged[name] = t
                report.append(f"LOWERED  {name}: {b:.2f}s -> {t:.2f}s")
            else:
                report.append(
                    f"KEPT     {name}: {b:.2f}s (run was {t:.2f}s; pass "
                    "--allow-lower to tighten)"
                )
        # t >= b: an entry is NEVER raised — that is how regressions hide
    return merged, report


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("bench_json", nargs="?", help="file holding bench.py's JSON line")
    p.add_argument("--run", action="store_true", help="run bench.py now")
    p.add_argument("--factor", type=float, default=2.0)
    p.add_argument("--slack", type=float, default=1.0, help="absolute seconds of tolerated jitter")
    p.add_argument("--refresh", action="store_true",
                   help="min-merge this run into BENCH_BASELINE.json (protocol above)")
    p.add_argument("--allow-lower", action="store_true",
                   help="with --refresh: permit lowering existing baseline entries")
    p.add_argument("--allow-lower-for", action="append", default=[],
                   metavar="QUERY",
                   help="with --refresh: permit lowering ONLY the named "
                        "entry (repeatable) — for re-baselining a genuine "
                        "plan rework without a lucky run tightening "
                        "unrelated entries")
    args = p.parse_args()
    if not args.run and not args.bench_json:
        p.error("pass a bench JSON file or --run")

    baseline_path = os.path.join(REPO, "BENCH_BASELINE.json")
    with open(baseline_path) as f:
        base_doc = json.load(f)
    base = base_doc["queries"]
    cur_doc = load_current(args)
    cur = cur_doc["queries"]
    # bench.py's in-run stall evidence (round 10): a flagged query carries
    # its best-of-3 time plus a co-measured fresh control, so a regression
    # row below can print its own box-state alibi (or lack of one).
    flagged = cur_doc.get("flagged", {})
    if cur_doc.get("stall_suspected"):
        print("NOTE: bench run self-reported stall_suspected=true "
              f"({len(flagged)} flagged queries carry co-measured controls)")

    if args.refresh:
        merged, report = refresh_baseline(
            base, cur, args.allow_lower, set(args.allow_lower_for)
        )
        for line in report:
            print(line)
        base_doc["queries"] = merged
        # the header total must describe the merged map it sits above —
        # a stale round-1 total misrepresents a 200+-entry baseline
        base_doc["value"] = round(sum(merged.values()), 2)
        with open(baseline_path, "w") as f:
            json.dump(base_doc, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"\nbaseline refreshed: {len(merged)} entries "
              f"({sum(1 for l in report if l.startswith('ADDED'))} added)")
        return 0

    regressed, improved, new = [], [], []
    for name, t in sorted(cur.items()):
        b = base.get(name)
        if b is None:
            new.append((name, t))
            continue
        if t > args.factor * b and t - b > args.slack:
            regressed.append((name, b, t))
        elif b > args.factor * t and b - t > args.slack:
            improved.append((name, b, t))

    for name, b, t in improved:
        print(f"IMPROVED  {name}: {b:.2f}s -> {t:.2f}s")
    for name, t in new:
        print(f"NEW       {name}: {t:.2f}s (no baseline)")
    for name, b, t in regressed:
        alibi = ""
        f = flagged.get(name)
        if f and f.get("ctl_ref") and f["ctl"] > 1.3 * f["ctl_ref"]:
            alibi = (f" [stall-suspected: co-measured control "
                     f"{f['ctl']:.2f}s vs {f['ctl_ref']:.2f}s entry]")
        print(f"REGRESSED {name}: {b:.2f}s -> {t:.2f}s (>{args.factor:.1f}x){alibi}")
    print(f"\n{len(regressed)} regressed / {len(improved)} improved / "
          f"{len(new)} new / {len(cur)} total vs {os.path.basename('BENCH_BASELINE.json')}")
    return 1 if regressed else 0


if __name__ == "__main__":
    raise SystemExit(main())
