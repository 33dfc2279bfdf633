"""One-command closing gate (round-8 brief item 6): run every
correctness/scale gate the round relies on, from the CURRENT working
tree, and emit a single machine-readable summary the next judge can
verify mechanically — no hand-cross-checked log soup, no stale-log
submissions.

Stages (each also writes its own log artifact):

1. oracle sweep at sf0.01            → ORACLE_sf01_r{N}.log
2. oracle sweep on the hostile set   → ORACLE_adv_r{N}.log  (.advsmall;
   fenced: isolated DuckDB children, 24 GB memory limit, 1800 s/entry)
3. oracle sweep at sf1               → ORACLE_sf1_r{N}.log   (.sf1,
   same fences; skipped unless the corpus dir exists)
4. plan audit over the contract      → PLAN_AUDIT_r{N}.txt
4b. randomized data-fuzz sweep       → FUZZDATA_r{N}.txt (pinned
    regression seeds 0,1 + two fresh per-round rotating seeds
    100+10*round+i, full contract each — tools/fuzz_sweep.py)
5. full pytest                       → PYTEST_r{N}.log
6. bench at sf0.1                    → BENCH_local_r{N}.json
   The bench stage is a real gate since round 9: it fails on (a) total
   above the driver contract's 2x-of-BASELINE bar (BENCH_r01), or (b)
   any per-query trimmed-mean regression beyond the combined 95% CIs
   AND a 1.2x ratio floor vs the prior round's committed bench. A
   >1.10x baseline ratio is recorded as a warning without failing.
   A flagged regression listed in BENCH_ATTRIBUTIONS.json (root-caused
   via a committed A/B doc, accepted as a semantics price) moves to
   "regressions_attributed" — reported, not gate-breaking — while it
   stays under the attribution's max_sec ceiling.
   A stage that hits its wall-clock budget records rc=124 + red and the
   summary still lands (no traceback abort).

Summary lands in GATES_r{N}.json: per-stage pass/fail counts, artifact
paths, wall seconds, and an overall "green" boolean. Exit code 1 when
any gate is red.

Usage: python tools/gates.py [round_no] [--skip stage1,stage2]
Stages: sf01 hostile sf1 plans fuzz pytest bench
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd, log_path, env_extra=None, timeout=14400):
    env = {**os.environ, **(env_extra or {})}
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                cmd, cwd=REPO, env=env, stdout=log, stderr=subprocess.STDOUT,
                timeout=timeout,
            )
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            # a wedged stage must record as red and let the remaining
            # stages (and the GATES_r{N}.json summary) still land —
            # not abort the whole gate run with a traceback
            log.write(f"\n[gates] TIMEOUT: stage exceeded {timeout}s budget\n")
            rc = 124
    return rc, time.time() - t0


def _parse_oracle(log_path):
    txt = open(log_path).read()
    m = re.search(r"(\d+) pass, (\d+) fail, (\d+) rows-only", txt)
    if not m:
        return {"error": "no summary line"}
    out = {
        "pass": int(m.group(1)),
        "fail": int(m.group(2)),
        "rows_only": int(m.group(3)),
        "timeouts": txt.count("TIMEOUT"),
    }
    return out


# hard bar: the driver contract (BASELINE.json) is "within 2x of
# BASELINE at the same scale factor". Crossing it fails the gate.
BASELINE_HARD_RATIO = 2.0
# soft bar: recorded as a warning (not a gate failure) so drift toward
# the contract bar is visible rounds before it trips.
BASELINE_WARN_RATIO = 1.10
# per-query regression: trimmed means must differ beyond BOTH the
# combined 95% CIs and this ratio floor (absolute sub-second queries
# have CIs comparable to their runtimes; the floor stops 50 ms "CI
# violations" from failing the gate).
REGRESSION_RATIO_FLOOR = 1.20
# trimmed-mean baseline, rebased at round 9 (BENCH_r09 value_trimmed,
# methodology v2 — see BASELINE.md "Bench reference numbers"): drift
# beyond 1.25x is recorded as a warning (the per-query CI check is the
# failing gate; this is the basket-level drift flag that lets best-of-N
# comparisons retire).
TRIMMED_BASELINE = 15.852
TRIMMED_WARN_RATIO = 1.25


def _baseline_total():
    """BENCH_r01's recorded total — the denominator of the driver's
    perf ratio since round 1."""
    try:
        rec = json.load(open(f"{REPO}/BENCH_r01.json"))
        parsed = rec.get("parsed") or rec
        return parsed.get("value")
    except (OSError, json.JSONDecodeError):
        return None


def _prior_bench(current_round):
    """Latest committed bench JSON from a PRIOR round — driver-recorded
    BENCH_r{M}.json preferred, BENCH_local_r{M}.json as fallback.
    Returns (parsed_dict, filename) or (None, None)."""
    try:
        cur = int(current_round)
    except ValueError:
        cur = 10**9
    best = (None, None, -1)
    for fn in os.listdir(REPO):
        m = re.match(r"BENCH(_local)?_r(\d+)\.json$", fn)
        if not m:
            continue
        rnd = int(m.group(2))
        if rnd >= cur:
            continue
        # driver files (no _local) win ties over same-round local files
        rank = rnd * 2 + (0 if m.group(1) else 1)
        if rank > best[2]:
            try:
                rec = json.load(open(f"{REPO}/{fn}"))
            except (OSError, json.JSONDecodeError):
                continue
            parsed = rec.get("parsed") or rec
            if isinstance(parsed, dict) and parsed.get("queries"):
                best = (parsed, fn, rank)
    return best[0], best[1]


def _bench_verdict(parsed, rnd):
    """Mechanical perf verdict: (a) total vs the BENCH_r01 baseline
    against the contract's 2x bar, (b) per-query trimmed-mean regression
    vs the prior round's committed bench, CI-aware. Older benches lack
    trimmed/ci fields — fall back to median / spread/2 so the check
    works across the format change."""
    out = {"baseline_ratio": None, "baseline_exceeded": False,
           "baseline_warn": False, "trimmed_baseline_ratio": None,
           "trimmed_warn": False, "regressions": [],
           "regressions_attributed": [], "prior_bench": None}
    if not parsed:
        return out
    base = _baseline_total()
    total = parsed.get("value")
    if base and total:
        ratio = round(total / base, 3)
        out["baseline_ratio"] = ratio
        out["baseline_exceeded"] = ratio > BASELINE_HARD_RATIO
        out["baseline_warn"] = ratio > BASELINE_WARN_RATIO
    # round 11: prefer the calibration-normalized trimmed total when the
    # bench emits it (value_trimmed_calibrated = value_trimmed /
    # load_factor) — cross-session load drift on untouched sub-second
    # queries was the dominant error term in the round-10 driver
    # comparison, and the raw trimmed sum would eventually false-fire
    # this flag on session variance alone. The raw ratio is still
    # recorded alongside for continuity with rounds 9-10.
    trimmed = parsed.get("value_trimmed")
    trimmed_cal = parsed.get("value_trimmed_calibrated") or trimmed
    if trimmed:
        out["trimmed_baseline_ratio_raw"] = round(trimmed / TRIMMED_BASELINE, 3)
    if trimmed_cal:
        t_ratio = round(trimmed_cal / TRIMMED_BASELINE, 3)
        out["trimmed_baseline_ratio"] = t_ratio
        out["trimmed_warn"] = t_ratio > TRIMMED_WARN_RATIO

    prior, prior_fn = _prior_bench(rnd)
    if prior:
        out["prior_bench"] = prior_fn
        new_t = parsed.get("queries_trimmed") or parsed.get("queries_median", {})
        new_ci = parsed.get("queries_ci95", {})
        old_t = prior.get("queries_trimmed") or prior.get("queries_median", {})
        old_sp = prior.get("queries_spread", {})
        old_ci = prior.get("queries_ci95") or {
            k: v / 2 for k, v in old_sp.items()
        }
        for name, old in old_t.items():
            new = new_t.get(name)
            if new is None or not old:
                continue
            band = new_ci.get(name, 0.0) + old_ci.get(name, 0.0)
            if new > old + band and new > old * REGRESSION_RATIO_FLOOR:
                rec = {
                    "query": name, "prior": old, "now": new,
                    "ci_band": round(band, 3),
                    "ratio": round(new / old, 2),
                }
                att = _attributions().get(name)
                if att and new <= att.get("max_sec", 0):
                    # root-caused + accepted with a committed A/B doc;
                    # still reported, no longer gate-breaking — but only
                    # under the attribution's ceiling, so a FURTHER
                    # slowdown re-fires the gate
                    rec["attribution"] = att.get("doc")
                    out["regressions_attributed"].append(rec)
                else:
                    out["regressions"].append(rec)
    return out


def _attributions():
    """BENCH_ATTRIBUTIONS.json: regressions with a committed A/B
    root-cause doc, accepted as a deliberate semantics price (see the
    file's _doc key). Missing/unreadable file -> empty (fail closed:
    everything stays gate-breaking)."""
    try:
        with open(f"{REPO}/BENCH_ATTRIBUTIONS.json") as f:
            data = json.load(f)
        return {k: v for k, v in data.items() if not k.startswith("_")}
    except (OSError, json.JSONDecodeError):
        return {}


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rnd = args[0] if args else "9"
    skip = set()
    for a in sys.argv[1:]:
        if a.startswith("--skip"):
            skip |= set(a.split("=", 1)[1].split(","))

    fences = {
        "CHECK_ORACLE_ISOLATE": "1",
        "CHECK_ORACLE_DUCKDB_MEM": "24GB",
        "CHECK_ORACLE_TIMEOUT_S": "1800",
        "SPARK_GRAFT_CPUS": "32",
    }
    summary: dict = {"round": rnd, "stages": {}, "started_unix": int(time.time())}

    # Per-stage delegate artifacts: when a stage is skipped but its
    # per-round artifact already exists (ran green in-session under a
    # separate invocation), the summary must POINT at that log and carry
    # its parsed result instead of recording a bare "skipped" — a gate
    # artifact either contains the stage or names the log it delegates
    # to (round-9 verdict, "What's wrong" item 2).
    delegate_logs = {
        "sf01": f"ORACLE_sf01_r{rnd}.log",
        "hostile": f"ORACLE_adv_r{rnd}.log",
        "sf1": f"ORACLE_sf1_r{rnd}.log",
        "fuzz": f"FUZZDATA_r{rnd}.txt",
    }

    def _delegated(name):
        log = delegate_logs.get(name)
        if not log or not os.path.exists(f"{REPO}/{log}"):
            return {"skipped": True}
        out = {"skipped": True, "delegated": log}
        if name == "fuzz":
            m = re.search(r"verdict: (\w+)", open(f"{REPO}/{log}").read())
            out["verdict"] = m.group(1) if m else "missing"
        else:
            out.update(_parse_oracle(f"{REPO}/{log}"))
        return out

    def stage(name, fn):
        if name in skip:
            summary["stages"][name] = _delegated(name)
            print(f"[gates] {name}: skipped -> {summary['stages'][name]}",
                  flush=True)
            return
        print(f"[gates] {name}: running...", flush=True)
        summary["stages"][name] = fn()
        print(f"[gates] {name}: {summary['stages'][name]}", flush=True)

    def oracle_stage(sf_dir, log_name, fenced):
        def run():
            log = f"{REPO}/{log_name}"
            rc, secs = _run(
                [sys.executable, "tools/check_oracle.py", sf_dir],
                log, env_extra=fences if fenced else {"SPARK_GRAFT_CPUS": "32"},
            )
            out = _parse_oracle(log)
            out.update({"rc": rc, "sec": round(secs, 1), "log": log_name})
            return out

        return run

    stage("sf01", oracle_stage(
        "/root/testdata/sf0.01", f"ORACLE_sf01_r{rnd}_gates.log", False))
    stage("hostile", oracle_stage(
        f"{REPO}/.advsmall", f"ORACLE_adv_r{rnd}.log", True))
    if os.path.isdir(f"{REPO}/.sf1"):
        stage("sf1", oracle_stage(
            f"{REPO}/.sf1", f"ORACLE_sf1_r{rnd}.log", True))
    else:
        summary["stages"]["sf1"] = {"skipped": True, "reason": "no .sf1 dir"}

    def plans():
        log = f"{REPO}/PLAN_AUDIT_r{rnd}_gates.txt"
        rc, secs = _run(
            [sys.executable, "tools/audit_plans.py", "/root/testdata/sf0.01"],
            log,
        )
        m = re.search(r"(\d+) flagged", open(log).read())
        return {
            "rc": rc,
            "flagged": int(m.group(1)) if m else -1,
            "sec": round(secs, 1),
            "log": os.path.basename(log),
        }

    stage("plans", plans)

    def fuzz():
        # pinned regression seeds (0,1 found most of the 31 round-9
        # divergences) run every round; two FRESH seeds rotate with the
        # round number so each round explores new corners of the value
        # space while the known-hostile corners stay covered
        try:
            fresh_base = 100 + 10 * int(rnd)
        except ValueError:
            fresh_base = 100
        seeds = f"0,1,{fresh_base},{fresh_base + 1}"
        log = f"{REPO}/FUZZDATA_r{rnd}.txt"
        rc, secs = _run(
            [sys.executable, "tools/fuzz_sweep.py", f"FUZZDATA_r{rnd}.txt",
             "--seeds", seeds],
            f"{REPO}/.fuzz_sweep_stdout.log",
            env_extra={"SPARK_GRAFT_CPUS": "32",
                       "CHECK_ORACLE_TIMEOUT_S": "600"},
        )
        txt = open(log).read() if os.path.exists(log) else ""
        m = re.search(r"verdict: (\w+)", txt)
        return {"rc": rc, "verdict": m.group(1) if m else "missing",
                "seeds": seeds, "sec": round(secs, 1),
                "log": os.path.basename(log)}

    stage("fuzz", fuzz)

    def pytest_stage():
        log = f"{REPO}/PYTEST_r{rnd}.log"
        rc, secs = _run(
            [sys.executable, "-m", "pytest", "tests/", "-q"], log,
        )
        m = re.search(r"(\d+) passed", open(log).read())
        f = re.search(r"(\d+) failed", open(log).read())
        return {
            "rc": rc,
            "passed": int(m.group(1)) if m else 0,
            "failed": int(f.group(1)) if f else 0,
            "sec": round(secs, 1),
            "log": os.path.basename(log),
        }

    stage("pytest", pytest_stage)

    def bench():
        log = f"{REPO}/BENCH_local_r{rnd}.json"
        rc, secs = _run(
            [sys.executable, "bench.py"], log,
            env_extra={
                "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1",
                "SPARK_GRAFT_CPUS": "32",
            },
        )
        parsed = None
        for line in open(log).read().splitlines()[::-1]:
            if line.startswith("{"):
                try:
                    parsed = json.loads(line)
                except json.JSONDecodeError:
                    pass
                break
        out = {
            "rc": rc,
            "total_sec": parsed.get("value") if parsed else None,
            "sec": round(secs, 1),
            "log": os.path.basename(log),
        }
        out.update(_bench_verdict(parsed, rnd))
        return out

    stage("bench", bench)

    def stage_green(name, s):
        if s.get("skipped"):
            # a delegated stage is green only if the log it points at is;
            # a bare skip (no artifact this round) stays neutral
            if "delegated" not in s:
                return True
            if name == "fuzz":
                return s.get("verdict") == "GREEN"
            return s.get("fail") == 0 and not s.get("timeouts")
        if name in ("sf01", "hostile", "sf1"):
            return s.get("fail") == 0 and s.get("rc") == 0 and not s.get("timeouts")
        if name == "plans":
            return s.get("flagged") == 0 and s.get("rc") == 0
        if name == "fuzz":
            return s.get("verdict") == "GREEN" and s.get("rc") == 0
        if name == "pytest":
            return s.get("failed") == 0 and s.get("rc") == 0
        if name == "bench":
            return (
                s.get("rc") == 0
                and s.get("total_sec") is not None
                and not s.get("baseline_exceeded")
                and not s.get("regressions")
            )
        return False

    summary["green"] = all(
        stage_green(k, v) for k, v in summary["stages"].items()
    )
    summary["finished_unix"] = int(time.time())
    out_path = f"{REPO}/GATES_r{rnd}.json"
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary, indent=2))
    print(f"wrote {out_path}")
    sys.exit(0 if summary["green"] else 1)


if __name__ == "__main__":
    main()
