#!/usr/bin/env python3
"""Same-day A/B host probe: is a bench delta CODE or HOST?

Round 17 established the adjudication pattern by hand (BASELINE.md
"Honesty note"): when this round's bench reads slower than the prior
round's committed record, check out the UNCHANGED prior-round commit
into a worktree and time it TODAY, interleaved with the current tree.
If the prior code reproduces the inflation against its own record, the
delta is the host; code-vs-code on the same day is the ground truth.
This script makes that experiment push-button.

Method:
  1. `git worktree add` the prior commit (reused if already present),
     `sbt -batch compile` both trees once.
  2. Interleave single-rep graft.Bench runs A/B/A/B/... (reps per tree
     configurable, default 3), each running the FULL suite in BOTH
     trees. Full-suite on both sides is load-bearing: a marker-only run
     measures each query on a colder JVM (less JIT/codegen warmup by
     the time it reaches the marker) and read 1.5-2x slower than the
     same tree's full-suite numbers when first tried (r18) — the two
     sides must execute the identical suite shape or the "code delta"
     is a warmup artifact.
  3. Per query: min over reps per tree. Report, as medians over ALL
     queries shared with the record (markers are just the printed
     table),
       host multiplier  = prior-code-today / prior-round record
       code delta       = current-code-today / prior-code-today
     and write the full per-query table as JSON.
  4. A query with a failed rep (Bench's -1.0) in either tree is listed
     in `failed_prior` / `failed_current`, not silently dropped; the
     script exits 1 when the current tree fails a query the prior tree
     passed.

Usage:
  python3 scripts/ab_probe.py <prior_commit> <prior_record.json> \
      [--out AB_PROBE.json] [--reps 3] [--sf /root/testdata/sf0.1] \
      [--queries q1,q2,...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# r17's hand-picked probe set: FS-heavy lifecycle (k14/k16/k34),
# dedup/posting-list join (d_char_ngram), multi-join compute (q7),
# mid-size aggregates (t_inverted_index, a1, j1), session-constant
# floor (sf_math). Diverse enough that a UNIFORM multiplier across
# them is the host-load signature, not a plan change.
DEFAULT_MARKERS = [
    "k14_stats_agg", "k16_update", "k34_bucket_join", "d_char_ngram",
    "q7_volume_shipping", "t_inverted_index", "a1_user_counts",
    "j1_left_join", "sf_math",
]


def run(cmd, cwd=None, env=None, check=True):
    print(f"+ {' '.join(cmd)}" + (f"  (cwd={cwd})" if cwd else ""), flush=True)
    return subprocess.run(cmd, cwd=cwd, env=env, check=check,
                          capture_output=True, text=True)


def loadavg():
    try:
        return ",".join(open("/proc/loadavg").read().split()[:3])
    except OSError:
        return ""


def bench_once(tree, sf):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf
    env["SPARK_GRAFT_BENCH_REPS"] = "1"
    # deliberately NOT SPARK_GRAFT_BENCH_ONLY: both trees must run the
    # identical full suite or per-query JIT warmup state differs (see
    # module docstring)
    r = run(["sbt", "-batch", "runMain graft.Bench"], cwd=tree, env=env)
    for line in r.stdout.splitlines():
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if line.startswith('{"metric"'):
            return json.loads(line)["queries"]
    sys.exit(f"no bench JSON line from {tree}:\n{r.stdout[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("prior_commit")
    ap.add_argument("prior_record", help="BENCH_LOCAL_r{N}.json of the prior round")
    ap.add_argument("--out", default="AB_PROBE.json")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=",".join(DEFAULT_MARKERS))
    args = ap.parse_args()

    record = json.load(open(args.prior_record))["queries"]
    # record values <= 0 are Bench's failed-query sentinel (-1.0): a
    # marker that failed in the prior round must not enter the ratios
    markers = [q for q in (s.strip() for s in args.queries.split(","))
               if q and record.get(q, -1.0) > 0]
    if not markers:
        sys.exit("no marker query appears (with a valid time) in the prior record")

    cur = subprocess.check_output(
        ["git", "rev-parse", "--show-toplevel"], text=True).strip()
    short = subprocess.check_output(
        ["git", "rev-parse", "--short", args.prior_commit], text=True).strip()
    prior = f"/tmp/graft_ab_{short}"
    # a half-created worktree (interrupted checkout) must not masquerade
    # as the prior tree: validate HEAD, re-add on any mismatch
    head = None
    if os.path.isdir(prior):
        r = run(["git", "-C", prior, "rev-parse", "--short", "HEAD"], check=False)
        head = r.stdout.strip() if r.returncode == 0 else None
    if head != short:
        if os.path.isdir(prior):
            run(["git", "worktree", "remove", "--force", prior], check=False)
        run(["git", "worktree", "add", prior, args.prior_commit])
    for tree in (prior, cur):
        run(["sbt", "-batch", "compile"], cwd=tree)

    load_before = loadavg()
    mins = {prior: {}, cur: {}}
    failed = {prior: set(), cur: set()}
    for rep in range(args.reps):
        for tree in (prior, cur):  # interleaved: host drift hits both
            qs = bench_once(tree, args.sf)
            for q, t in qs.items():
                if t >= 0:
                    prev = mins[tree].get(q)
                    mins[tree][q] = t if prev is None else min(prev, t)
                else:
                    failed[tree].add(q)
    # a query the prior tree ran cleanly every rep and the current tree
    # failed at least once
    regressed = sorted((set(mins[prior]) - failed[prior]) & failed[cur])

    rows, host_ms, code_ms = {}, [], []
    for q in sorted(set(record) & set(mins[prior]) & set(mins[cur])):
        rec, pri, curt = record[q], mins[prior][q], mins[cur][q]
        if rec <= 0:
            continue
        host = round(pri / rec, 2)
        code = round(curt / pri, 2)
        rows[q] = {"prior_record_s": rec, "prior_code_today_s": pri,
                   "current_code_today_s": curt,
                   "host_multiplier": host, "code_delta": code}
        host_ms.append(host)
        code_ms.append(code)
    out = {
        "prior_commit": short, "reps": args.reps, "sf": args.sf,
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "queries_compared": len(rows),
        "failed_prior": sorted(failed[prior]),
        "failed_current": sorted(failed[cur]),
        "host_multiplier_median": round(statistics.median(host_ms), 2) if host_ms else None,
        "code_delta_median": round(statistics.median(code_ms), 2) if code_ms else None,
        "reading": ("medians over ALL shared queries; host_multiplier ~1.0 = calm "
                    "host-day, record comparable on wall clock; uniformly >1.1 = host "
                    "inflation, adjudicate on code_delta (prior vs current code, same "
                    "day, identical full-suite runs) instead"),
        "queries": rows,
    }
    json.dump(out, open(args.out, "w"), indent=1, sort_keys=True)
    print(f"\n{'query':24s} {'record':>8s} {'prior@today':>12s} {'cur@today':>10s} "
          f"{'host×':>6s} {'codeΔ':>6s}")
    for q in (m for m in markers if m in rows):
        r = rows[q]
        print(f"{q:24s} {r['prior_record_s']:8.2f} "
              f"{r['prior_code_today_s']:12.2f} "
              f"{r['current_code_today_s']:10.2f} "
              f"{r['host_multiplier']:6.2f} "
              f"{r['code_delta']:6.2f}")
    cd = sorted(code_ms)
    # a renamed suite can leave zero shared queries: the medians above
    # already report None — the percentile print must not IndexError
    pct = (f" (p10 {cd[len(cd)//10]:.2f}, p90 {cd[(len(cd)*9)//10]:.2f})"
           if cd else "")
    print(f"\n{len(rows)} queries; host multiplier median "
          f"{out['host_multiplier_median']}, code delta median "
          f"{out['code_delta_median']}{pct} -> {args.out}")
    print(f"failed_prior: {out['failed_prior']}")
    print(f"failed_current: {out['failed_current']}")
    if regressed:
        sys.exit(f"current tree fails queries the prior tree passed: {regressed}")


if __name__ == "__main__":
    main()
