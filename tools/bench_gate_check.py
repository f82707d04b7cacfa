#!/usr/bin/env python3
"""Dev-only harness (NOT part of the shipped library): the mechanical
bench-gate comparison (r16 verdict #8), PHASE-AWARE since r19 (r18
verdict #2) — separate uniform box drift from per-entry signal
mechanically instead of hand-triaging across three documents.

Every committed BENCH_GATE_r*.json is a warm min-of-sweeps full-sweep
record from the same harness, so the per-entry MIN across prior gates in
the current floor ERA is the best-known warm capability measured
like-for-like ("the floor"). This tool compares a candidate record
(default: target/bench_latest.json) against that floor and prints:

  - a BOX-DRIFT estimate: the median candidate/floor ratio over entries
    whose code did NOT change since the newest prior gate (git-derived —
    see below). Uniform box phase moves every unchanged entry together;
    a per-entry regression moves one entry against the canary.
  - every entry over the 2x gate vs the floor, RAW and DRIFT-NORMALIZED
    (ratio / drift). A raw breach that normalizes under 2x is box phase
    by the canary's own measurement; one that stays over 2x is signal
    -> exit 1.
  - a CROSS-ERA check (the r18 ADVICE blind spot: a one-gate era
    compares against nothing, so a regression shipped in the era's
    first gate would become the permanent floor): unchanged entries are
    also compared against the PRE-era floors scaled by the measured
    cross-era box factor; entries over 2x even after scaling are
    flagged for a MiniBench receipt.

Changed-entry derivation (approximate, and says so): the base revision
is the commit that last touched the newest prior era gate. An entry
counts as CHANGED if (a) its own source block in QueryCatalog.scala /
Bench.scala differs between base and HEAD, (b) its block mentions the
object of a src/main file that changed, or (c) its block calls a
QueryCatalog helper (`def x`) whose body changed. Changed files whose
identifier no entry mentions are listed as UNMAPPED — the drift
estimate may be contaminated and a human should glance at them.

A candidate entry recorded as a negative time (graft.Bench writes -1
for an entry that failed) is listed as FAILED and fails the check.

Usage: python3 tools/bench_gate_check.py [candidate.json] [--top N]
       [--base REV] [--no-git]
"""
import glob
import json
import os
import re
import subprocess
import sys

FLOOR_BASE_ROUND = 18  # floor era (BASELINE.md r18): the r17/r18 box
# step change persisted; pre-era gates stay committed as the fast-box
# historical record and feed only the scaled cross-era check below.

# Source blocks for entries whose timed code lives outside the files the
# entry block textually names (the tree fits drive tree/*).
EXTRA_MENTIONS = {
    "tree/": ["DecisionTreeClassifier", "graft.tree.Predict", "Criterion"],
}

ENTRY_RE = re.compile(r'^\s*\(?"([a-z0-9_]+)"\s*(?:->|,)', re.M)


def load_all(path):
    """Every numeric entry of a record, including the -1 graft.Bench
    writes for an entry that failed."""
    with open(path) as f:
        d = json.load(f)
    qs = d.get("queries") or {}
    return {k: v for k, v in qs.items() if isinstance(v, (int, float))}


def load(path):
    """The entries that ran (failed entries set no floor and no ratio)."""
    return {k: v for k, v in load_all(path).items() if v >= 0}


def git(repo, *args):
    return subprocess.run(["git", "-C", repo] + list(args),
                          capture_output=True, text=True).stdout


def entry_blocks(text):
    """name -> concatenated source blocks (an entry may appear in the
    queries map, the oracle map, and Bench's lists)."""
    blocks = {}
    matches = list(ENTRY_RE.finditer(text))
    for i, m in enumerate(matches):
        end = matches[i + 1].start() if i + 1 < len(matches) else len(text)
        blocks.setdefault(m.group(1), []).append(text[m.start():end])
    return {k: "\n".join(v) for k, v in blocks.items()}


def helper_blocks(text):
    """def name -> body text (QueryCatalog private helpers)."""
    out = {}
    ms = list(re.finditer(r'^\s*(?:private\s+)?(?:lazy\s+val|def)\s+(\w+)', text, re.M))
    for i, m in enumerate(ms):
        end = ms[i + 1].start() if i + 1 < len(ms) else len(text)
        out.setdefault(m.group(1), []).append(text[m.start():end])
    return {k: "\n".join(v) for k, v in out.items()}


def changed_entries(repo, base):
    """(set of changed entry names or None, warnings list)."""
    warnings = []
    files = [f for f in git(repo, "diff", "--name-only", base, "HEAD",
                            "--", "src/main/scala/graft").splitlines() if f]
    cat_path = "src/main/scala/graft/QueryCatalog.scala"
    bench_path = "src/main/scala/graft/Bench.scala"
    head_txt, base_txt = {}, {}
    for p in (cat_path, bench_path):
        try:
            with open(os.path.join(repo, p)) as f:
                head_txt[p] = f.read()
        except OSError:
            return None, [f"cannot read {p}"]
        base_txt[p] = git(repo, "show", f"{base}:{p}")
    head_entries = {}
    base_entries = {}
    for p in (cat_path, bench_path):
        head_entries.update(entry_blocks(head_txt[p]))
        base_entries.update(entry_blocks(base_txt[p]))
    changed = {n for n, b in head_entries.items()
               if base_entries.get(n, "") != b}
    # (b) changed-file object mentions + (c) changed QueryCatalog helpers
    mention_ids = []
    for f in files:
        if f in (cat_path, bench_path):
            continue
        # Dev probes (graft/tools/) never sit in an entry's timed path —
        # a changed probe is measurement tooling, not measured code, so
        # it neither marks entries changed nor warns as unmapped.
        if "/graft/tools/" in f:
            continue
        ident = os.path.splitext(os.path.basename(f))[0]
        mention_ids.append(ident)
        for prefix, extras in EXTRA_MENTIONS.items():
            if prefix in f:
                mention_ids.extend(extras)
    hb, bb = helper_blocks(head_txt[cat_path]), helper_blocks(base_txt[cat_path])
    changed_helpers = {n for n, b in hb.items() if bb.get(n, "") != b}
    for name, block in head_entries.items():
        if any(re.search(r'\b' + re.escape(i) + r'\b', block) for i in mention_ids):
            changed.add(name)
        elif any(re.search(r'\b' + re.escape(h) + r'\s*\(', block)
                 for h in changed_helpers):
            changed.add(name)
    unmapped = [i for i in set(mention_ids)
                if not any(re.search(r'\b' + re.escape(i) + r'\b', b)
                           for b in head_entries.values())]
    if unmapped:
        warnings.append(
            "unmapped changed files (no entry mentions them; drift canary "
            "may be contaminated): " + ", ".join(sorted(unmapped)))
    return changed, warnings


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2] if xs else None


def floors_from(gates, cand_path):
    floor = {}
    for g in gates:
        if os.path.abspath(g) == os.path.abspath(cand_path):
            continue  # the candidate must not set its own floor
        for k, v in load(g).items():
            floor[k] = min(floor.get(k, v), v)
    return floor


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    argv = sys.argv[1:]
    top = 10
    base_override = None
    use_git = "--no-git" not in argv
    for i, a in enumerate(argv):
        if a == "--top":
            top = int(argv[i + 1])
        if a == "--base":
            base_override = argv[i + 1]
    cand_path = args[0] if args else "target/bench_latest.json"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    all_gates = sorted(glob.glob(os.path.join(repo, "BENCH_GATE_r*.json")),
                       key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    era = [g for g in all_gates
           if int(re.search(r"r(\d+)", g).group(1)) >= FLOOR_BASE_ROUND]
    pre = [g for g in all_gates
           if int(re.search(r"r(\d+)", g).group(1)) < FLOOR_BASE_ROUND]
    if not era:
        print(f"WARNING: floor era (>= r{FLOOR_BASE_ROUND}) is EMPTY — the "
              "perf check compares against nothing this round and the "
              "candidate's own regressions would become the permanent "
              "floor. Falling back to the scaled cross-era check only.")
    floor = floors_from(era, cand_path)
    pre_floor = floors_from(pre, cand_path)
    cand_all = load_all(cand_path)
    failed = sorted(k for k, v in cand_all.items() if v < 0)
    cand = {k: v for k, v in cand_all.items() if v >= 0}

    changed, warnings = (None, [])
    if use_git:
        base = base_override
        if base is None and era:
            newest = max(era, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
            if os.path.abspath(newest) == os.path.abspath(cand_path) and len(era) > 1:
                newest = sorted(era, key=lambda p: int(
                    re.search(r"r(\d+)", p).group(1)))[-2]
            base = git(repo, "log", "-1", "--format=%H", "--",
                       os.path.relpath(newest, repo)).strip()
        if base:
            changed, warnings = changed_entries(repo, base)
            print(f"change base: {base[:12]} "
                  f"({len(changed) if changed is not None else '?'} entries changed)")
    for w in warnings:
        print(f"WARNING: {w}")

    rows = []
    fresh = []
    for k, v in sorted(cand.items()):
        if k in floor and floor[k] > 0:
            rows.append((v / floor[k], k, v, floor[k]))
        else:
            fresh.append((k, v))
    unchanged = ([r for r in rows if changed is not None and r[1] not in changed]
                 if changed is not None else [])
    drift = median([r[0] for r in unchanged]) if unchanged else None
    rows.sort(reverse=True)
    breaches = [r for r in rows if r[0] > 2.0]
    print(f"candidate: {cand_path} ({len(cand)} entries)")
    print(f"era floors from: {', '.join(os.path.basename(g) for g in era) or '(none)'}")
    med = median([r[0] for r in rows])
    print(f"comparable: {len(rows)}  first-line: {len(fresh)}  "
          f"median ratio: {med:.2f}x" if med else
          f"comparable: 0  first-line: {len(fresh)}  median ratio: n/a")
    if drift is not None:
        print(f"box-drift canary: median {drift:.2f}x over {len(unchanged)} "
              f"unchanged comparable entries")
    else:
        print("box-drift canary: n/a (no unchanged comparable entries or "
              "--no-git) — raw breaches cannot be attributed mechanically")

    signal = []
    if breaches:
        print("\nBREACHES (over 2x the like-for-like era floor):")
        for r, k, v, f in breaches:
            norm = r / drift if drift else None
            is_changed = changed is not None and k in changed
            # A changed entry's breach is ALWAYS signal (r19 ADVICE): the
            # drift canary is measured over UNCHANGED entries, so it can
            # excuse uniform box phase but cannot attribute a slowdown
            # introduced by this round's code change — that needs a human
            # MiniBench/BENCH_ONLY receipt, not a mechanical excuse.
            tag = ("SIGNAL" if is_changed
                   else "box-phase" if norm is not None and norm <= 2.0
                   else "SIGNAL" if norm is not None else "UNATTRIBUTED")
            chg = " [changed]" if is_changed else ""
            nstr = f"  norm {norm:5.2f}x" if norm is not None else ""
            print(f"  {k:45s} {v:7.2f}s  floor {f:7.2f}s  {r:5.2f}x{nstr}  {tag}{chg}")
            if tag != "box-phase":
                signal.append(k)
    print(f"\ntop {top} ratios under the gate (drift band — no triage unless "
          f"the entry's code changed):")
    for r, k, v, f in [x for x in rows if x[0] <= 2.0][:top]:
        print(f"  {k:45s} {v:7.2f}s  floor {f:7.2f}s  {r:5.2f}x")
    if fresh:
        print("\nfirst lines (floor set next round):")
        for k, v in fresh:
            print(f"  {k:45s} {v:7.2f}s")

    # cross-era sanity: unchanged entries vs pre-era floors, scaled by the
    # measured cross-era box factor (catches a regression baked into the
    # era's FIRST gate, which the era floor can never see)
    if pre_floor:
        xe = [(cand[k] / pre_floor[k], k) for k in cand
              if k in pre_floor and pre_floor[k] > 0
              and (changed is None or k not in changed)]
        factor = median([r for r, _ in xe])
        if factor:
            flagged = [(r / factor, k, r) for r, k in xe if r / factor > 2.0]
            print(f"\ncross-era: box factor {factor:.2f}x vs pre-era floors "
                  f"({len(xe)} unchanged entries)")
            if flagged:
                # ADVISORY (does not affect the exit code): the r18
                # adjudication showed in-sweep times of sub-2 s entries
                # carry interleave noise the isolated receipts don't —
                # this list is where to SPEND MiniBench receipts, not a
                # mechanical verdict.
                print("  entries over 2x the SCALED pre-era floor (era-baked "
                      "regression candidates — get a MiniBench receipt):")
                for n, k, r in sorted(flagged, reverse=True):
                    print(f"  {k:45s} raw {r:5.2f}x  scaled {n:5.2f}x")
    if failed:
        print(f"\nFAILED ({len(failed)} entries recorded a negative time — "
              "the entry crashed):")
        for k in failed:
            print(f"  {k}")
    sys.exit(1 if signal or failed else 0)


if __name__ == "__main__":
    main()
