"""One-shot pre-driver gate: run the three checks the driver will run —
pytest, the full DuckDB-oracle harness, and a mini-bench — and print one
summary block. The round-3 incident (an environment drift discovered only
when the driver's bench crashed) is the reason this exists: one command,
run at the end of every session, that fails loudly if any surface broke.

Usage:
    python tools/gate.py              # full gate (~10-12 min)
    python tools/gate.py --quick     # pytest -x on plans/env + 8-key harness
                                     # subset + 3-query bench (~6 min on
                                     # 4 vCPUs; the plans tests plan all
                                     # 349 keys for the shape guard)

Exit code 0 iff every stage passed (harness `weak` rows are expected for
the documented oracle-less keys and don't fail the gate).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one representative key per family — the --quick harness subset
QUICK_KEYS = [
    "appx_median_price_by_returnflag",
    "q1_pricing_summary",
    "tumbling_hourly_event_stats",
    "case_q12_priority_shipping",
    "dedup_exact_docs",
    "multimodal_jpeg_color_stats",
    "ewma_user_value",
    "fuzzy_join_part_names_d2",
]

BENCH_KEYS = ["q1_pricing_summary", "dedup_exact_docs", "asof_click_attribution"]


def run(cmd: list[str], env: dict | None = None) -> tuple[int, str]:
    proc = subprocess.run(
        cmd, cwd=REPO, env={**os.environ, **(env or {})},
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    return proc.returncode, proc.stdout


def main() -> int:
    quick = "--quick" in sys.argv
    results: dict[str, str] = {}
    ok = True

    t0 = time.time()
    pytest_cmd = [sys.executable, "-m", "pytest", "-x", "-q"]
    pytest_cmd += ["tests/test_plans.py", "tests/test_env.py"] if quick else ["tests/"]
    rc, out = run(pytest_cmd)
    tail = out.strip().splitlines()[-1] if out.strip() else ""
    results["pytest"] = f"rc={rc} {tail} ({time.time() - t0:.0f}s)"
    ok &= rc == 0

    t0 = time.time()
    harness_cmd = [sys.executable, "tools/check_correctness.py", "/root/testdata/sf0.01"]
    if quick:
        harness_cmd += QUICK_KEYS
    rc, out = run(harness_cmd)
    m = re.search(r"(\d+) pass, (\d+) fail, (\d+) weak", out)
    results["harness"] = f"rc={rc} {m.group(0) if m else 'NO SUMMARY'} ({time.time() - t0:.0f}s)"
    near = out.count("NEAR[")
    if near:
        results["harness"] += f"  !! {near} NEAR (exact-hash risk)"
    ok &= rc == 0 and m is not None and m.group(2) == "0"

    t0 = time.time()
    # mini-bench: 3 representative queries at sf0.01 through the real bench
    # path (one JSON line) — catches load/plan crashes, not perf regressions;
    # run the full `python bench.py` on an IDLE machine for timings.
    code = (
        "import bench, json, time, os; import __spark_entry__ as e; "
        "from rocana_impala_udfs_spark import get_spark; "
        "spark = get_spark('gate'); qs = e.queries(); "
        f"[qs[k](spark, '/root/testdata/sf0.01').collect() for k in {BENCH_KEYS!r}]; "
        "print('MINIBENCH_OK')"
    )
    rc, out = run([sys.executable, "-c", code])
    results["mini-bench"] = f"rc={rc} {'ok' if 'MINIBENCH_OK' in out else 'FAILED'} ({time.time() - t0:.0f}s)"
    ok &= rc == 0 and "MINIBENCH_OK" in out

    t0 = time.time()
    # packaging stage (VERDICT r12 #3): build the wheel, pip-install it to
    # a temp --target, and run the SQL UDAF surface from the INSTALLED
    # package (subprocess cwd outside the repo so imports can't fall
    # through to the checkout)
    rc, out = run([sys.executable, "tools/verify_install.py"])
    inst_ok = "INSTALLED-PACKAGE CHECK OK" in out
    results["install"] = f"rc={rc} {'ok' if inst_ok else 'FAILED'} ({time.time() - t0:.0f}s)"
    ok &= rc == 0 and inst_ok

    print(json.dumps({"gate": "quick" if quick else "full", **results}, indent=2))
    print("GATE PASS" if ok else "GATE FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
