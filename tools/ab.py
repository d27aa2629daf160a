"""Standard A/B measurement harness — the r13 two-view protocol as a tool.

VERDICT r13 "Next round" #7: perf claims on this box need (a) N-run
medians in a primed session, (b) a LOW-CORE column (duplicate work hides
in idle cores at local[32] but shows at local[8] — the 100 TB signal),
and (c) a normalized plan fingerprint so a flagged wall delta on an
identical plan is adjudicated to environment, not code.  r13 did this
with round-named scripts + /tmp archaeology; this tool makes it the
repo-standard workflow:

    # on tree A (e.g. before a change)
    python tools/ab.py measure --out /tmp/a.json --runs 3 --cpus 32,8 q1 q2
    # on tree B (after)
    python tools/ab.py measure --out /tmp/b.json --runs 3 --cpus 32,8 q1 q2
    # ratio table + fingerprint gate
    python tools/ab.py compare /tmp/a.json /tmp/b.json

``measure`` runs one primed session per core count (bench.py methodology:
_prime_session, per-run cold reset of streaming work dirs, timed ``.count()``)
and records per-query run lists, medians, and the md5 of the normalized
extended plan (tools/plan_fingerprint.normalize).  ``compare`` prints a
per-query ratio per core column and flags fingerprint mismatches — equal
fingerprints mean the executed plan is identical and any wall delta is
environment.  Optionally pass ``--plans-dir plans/r14 --tag before`` to
measure to ALSO dump ``explain("formatted")`` per query (the judge-facing
evidence files).
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

from plan_fingerprint import normalize  # noqa: E402


def _measure_one_session(names, cpus, runs, sf_dir, plans_dir, tag):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.session import (  # noqa: E501
        get_session,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        CATALOG,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
        jobs as SJ,
    )
    import bench

    spark = get_session(master=f"local[{cpus}]", app_name=f"ab-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    bench._prime_session(spark, sf_dir, str(cpus))

    out = {}
    for name in names:
        spec = CATALOG[name]
        samples = []
        df = None
        for _ in range(runs):
            SJ.reset(name)
            spark.sparkContext.setJobDescription(f"ab[{cpus}] {name}")
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.count()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        med = sorted(samples)[len(samples) // 2]
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )
        fp = hashlib.md5(normalize(plan).encode()).hexdigest()
        out[name] = {"runs": samples, "median": med, "fingerprint": fp}
        print(
            f"# [{cpus} cores] {name}: median {med:.3f}s {samples} fp={fp[:10]}",
            file=sys.stderr,
            flush=True,
        )
        if plans_dir and df is not None:
            os.makedirs(plans_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            suffix = f"_{tag}" if tag else ""
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
    spark.stop()
    return out


def measure(args) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpu_list = [int(c) for c in args.cpus.split(",")]
    doc = {
        "label": args.label,
        "sf_dir": sf_dir,
        "runs": args.runs,
        "cpus": cpu_list,
        "by_cpus": {},
    }
    for cpus in cpu_list:
        doc["by_cpus"][str(cpus)] = _measure_one_session(
            args.names, cpus, args.runs, sf_dir,
            args.plans_dir, args.tag,
        )
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"out": args.out, "label": args.label}))


def compare(args) -> None:
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    la, lb = a.get("label") or "A", b.get("label") or "B"
    rows = []
    for cpus in a["by_cpus"]:
        if cpus not in b["by_cpus"]:
            continue
        qa, qb = a["by_cpus"][cpus], b["by_cpus"][cpus]
        for name in qa:
            if name not in qb:
                continue
            ma, mb = qa[name]["median"], qb[name]["median"]
            same_fp = qa[name]["fingerprint"] == qb[name]["fingerprint"]
            rows.append(
                {
                    "query": name,
                    "cpus": int(cpus),
                    la: ma,
                    lb: mb,
                    "ratio": round(mb / ma, 3) if ma > 0 else None,
                    "plan_identical": same_fp,
                }
            )
            tagline = "SAME-PLAN" if same_fp else "PLAN-CHANGED"
            print(
                f"# [{cpus:>2} cores] {name}: {ma:.3f}s -> {mb:.3f}s "
                f"(x{mb / ma if ma else float('nan'):.3f}) {tagline}",
                file=sys.stderr,
            )
    ratios = [r["ratio"] for r in rows if r["ratio"]]
    geo = None
    if ratios:
        import math

        geo = round(
            math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 4
        )
    print(json.dumps({"rows": rows, "geomean_ratio": geo}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("measure")
    m.add_argument("names", nargs="+")
    m.add_argument("--out", required=True)
    m.add_argument("--runs", type=int, default=3)
    m.add_argument("--cpus", default="32,8", help="comma list, one session each")
    m.add_argument("--label", default=None)
    m.add_argument("--plans-dir", default=None)
    m.add_argument("--tag", default=None, help="plan file suffix (before/after)")
    m.set_defaults(fn=measure)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    c.set_defaults(fn=compare)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
