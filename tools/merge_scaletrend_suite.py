#!/usr/bin/env python3
"""Merge the ×1/×10 suite-level scale-trend measurements into one
artifact (round-17 verdict item 5):

    python3 tools/merge_scaletrend_suite.py \
        <duck_x1.json> <duck_xN.json> <spark_trend.log> <factor> \
        > tools/scaletrend_suite_r18.json

- duck_*.json: tools/duckdb_baseline.py output on the two directories;
- spark_trend.log: graft.probes.ScaleTrendSuite output over the same
  two directories (one JSON line per query with its `arms` in
  directory order, or with `empty_arms` when a directory had no
  successful rep; calibration and error lines are skipped). The first
  arm is the ×1 side and the last arm the ×N side.

Emits per-query {spark_x1, spark_xN, duck_x1, duck_xN, ratio_x1,
ratio_xN, spark_scale, duck_scale} plus totals, and the queries left
out for an empty arm under "incomplete". ratio_xN < ratio_x1
(the fixed-floor share shrinking) is the claim under test.
"""
import json
import sys


def main(duck1_p, duckn_p, spark_p, factor):
    duck1 = json.load(open(duck1_p))["queries"]
    duckn = json.load(open(duckn_p))["queries"]
    spark = {}
    incomplete = []
    for line in open(spark_p):
        line = line.strip()
        if line.startswith('{"query"'):
            d = json.loads(line)
            if "arms" in d:
                spark[d["query"]] = (d["arms"][0]["sec"], d["arms"][-1]["sec"])
            elif "empty_arms" in d:
                incomplete.append(d["query"])
    rows = {}
    for q in sorted(spark):
        if q not in duck1 or q not in duckn:
            continue
        s1, sn = spark[q]
        d1, dn = duck1[q], duckn[q]
        rows[q] = {
            "spark_x1": s1, f"spark_x{factor}": sn,
            "duck_x1": d1, f"duck_x{factor}": dn,
            "ratio_x1": round(s1 / d1, 3),
            f"ratio_x{factor}": round(sn / dn, 3),
            "spark_scale": round(sn / s1, 2),
            "duck_scale": round(dn / d1, 2),
        }
    tot = {
        "spark_x1": round(sum(r["spark_x1"] for r in rows.values()), 3),
        f"spark_x{factor}": round(
            sum(r[f"spark_x{factor}"] for r in rows.values()), 3),
        "duck_x1": round(sum(r["duck_x1"] for r in rows.values()), 3),
        f"duck_x{factor}": round(
            sum(r[f"duck_x{factor}"] for r in rows.values()), 3),
    }
    tot["ratio_x1"] = round(tot["spark_x1"] / tot["duck_x1"], 3)
    tot[f"ratio_x{factor}"] = round(
        tot[f"spark_x{factor}"] / tot[f"duck_x{factor}"], 3)
    print(json.dumps({"factor": factor, "n_queries": len(rows),
                      "totals": tot, "queries": rows,
                      "incomplete": sorted(incomplete)}, indent=1))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]))
