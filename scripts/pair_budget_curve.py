"""Re-measure the shingle family's sf1->sf3 scaling exponent UNDER the
r14 pair-budget guard (VERDICT r13 "Next round" #1 done-criterion).

The r13 curve measured dedup_ngram_jaccard at N^1.59 sf1->sf3 and
attributed ALL of it to candidate densification: Σ C(df,2) grew 8.99x
for 3x docs against the synthetic generator's saturating vocabulary
(BENCH_SCALE_CURVE.json densification block) while the per-key
max_shingle_df=1000 cap never engaged. The fix is the budget the per-key
cap cannot express: ``max_candidate_pairs`` bounds the SUM by dropping
the hottest keys rarest-last (llm/dedup.pair_budget_drop_set).

This script runs the registry-shaped query (n=3, threshold=0.35) with a
budget chosen to bind at sf3 but not at sf1 (150M, vs 124.9M measured
at sf1 and 1,123M at sf3), measures cold/warm walls at both scales, and
verifies engine-side that the kept Σ C(df,2) respects the budget. The
expectation: candidate work pinned near the budget at both scales, so
the wall ratio collapses from the unguarded 5.74x toward the linear
(scan + per-doc) floor. Merges a ``pair_budget_guard`` section into
BENCH_SCALE_CURVE.json.

Usage: AOS_DRIVER_MEM=32g python scripts/pair_budget_curve.py
"""

from __future__ import annotations

import argparse
import json
import math
import time
from pathlib import Path
import sys

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from aos_spark.cache import release_tracked  # noqa: E402
from aos_spark.session import get_spark  # noqa: E402

BUDGET = 150_000_000
PPJOIN_BUDGET = 100_000_000  # prefix-posting pairs; binds hard at sf3


def _docs(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _time_query(spark, fn) -> dict[str, float]:
    out = {}
    for label in ("cold", "warm"):
        release_tracked()
        spark.catalog.clearCache()
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        out[label] = round(time.time() - t0, 3)
    return out


def _kept_pair_sum(spark, sf_dir: str) -> dict[str, int]:
    """Engine-side verification that the guard holds: Σ C(df,2) over the
    keys the budgeted run actually joins on (df-cap survivors minus the
    budget drop set) vs the unguarded total."""
    from pyspark.sql import functions as F

    from aos_spark.llm.dedup import pair_budget_drop_set, shingle_frame

    sh = shingle_frame(_docs(spark, sf_dir))
    ex = sh.select("id", F.explode_outer("shingles").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    freq = freq.filter(F.col("sdf") <= 1000)  # production df cap
    pairs = F.expr("CAST(sdf AS BIGINT) * (sdf - 1) DIV 2")
    total = freq.agg(F.sum(pairs)).collect()[0][0]
    drops = pair_budget_drop_set(freq, BUDGET)
    kept = (
        freq.join(drops.select("shingle"), "shingle", "left_anti")
        .agg(F.coalesce(F.sum(pairs), F.lit(0)))
        .collect()[0][0]
    )
    n_dropped = drops.count()
    release_tracked()
    spark.catalog.clearCache()
    assert kept <= BUDGET, (kept, BUDGET)
    return {"uncapped_pairs": int(total), "kept_pairs": int(kept),
            "dropped_shingles": int(n_dropped)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default=str(_REPO / ".sf1_data"))
    ap.add_argument("--sf3", default=str(_REPO / ".sf3_data"))
    ap.add_argument("--artifact",
                    default=str(_REPO / "BENCH_SCALE_CURVE.json"))
    ap.add_argument("--ppjoin", action="store_true",
                    help="also measure the guarded ppjoin sf1/sf3 legs "
                         "(the leg that was disk-bound unguarded)")
    ap.add_argument("--family", action="store_true",
                    help="measure the guarded sf1/sf3 legs of the REST of "
                         "the shingle family (VERDICT r14 #1): "
                         "containment_near_dup, dedup_threshold_curve, "
                         "split_leakage_check, dedup_resolution — via the "
                         "registry query functions' own max_candidate_pairs "
                         "keyword (no reimplementation)")
    ap.add_argument("--only", default=None,
                    help="with --family: comma-separated subset of query "
                         "names to (re)measure")
    args = ap.parse_args()

    art = json.loads(Path(args.artifact).read_text())
    base = art["queries"]["dedup_ngram_jaccard"]  # fail fast if absent

    spark = get_spark("aos-pair-budget-curve", master="local[32]")
    from aos_spark.llm.dedup import ngram_jaccard_pairs

    if args.family:
        # The four remaining shingle-family queries (r14 verdict #1):
        # each is measured through its REGISTRY function with the budget
        # passed via the function's keyword surface, so the measured plan
        # is the registry plan + guard, by construction. All four share
        # the ngram n=3 / df<=1000 machinery on the same corpus, so the
        # kept-vs-uncapped Σ C(df,2) verification already recorded in the
        # ngram section (kept 149,965,625 <= 150M at sf3) applies to the
        # candidate stage of every one of them verbatim.
        from aos_spark.queries.dedup import (
            q_containment_near_dup,
            q_dedup_resolution,
            q_dedup_threshold_curve,
            q_split_leakage_check,
        )

        fns = {
            "containment_near_dup": q_containment_near_dup,
            "dedup_threshold_curve": q_dedup_threshold_curve,
            "split_leakage_check": q_split_leakage_check,
            "dedup_resolution": q_dedup_resolution,  # heaviest last
        }
        if args.only:
            keep = set(args.only.split(","))
            unknown = keep - set(fns)
            if unknown:
                raise SystemExit(f"--only names unknown queries: {unknown}")
            fns = {k: v for k, v in fns.items() if k in keep}
        fam = art["pair_budget_guard"].setdefault("family", {})
        fam["note"] = (
            "registry query functions called with "
            f"max_candidate_pairs={BUDGET}, on_over_budget='drop' — same "
            "budget, corpus and shingle machinery as the ngram section, "
            "so its engine-side kept-pair verification (149,965,625 <= "
            "150M at sf3) covers these candidate stages verbatim; "
            "unguarded comparators from this artifact's queries block"
        )
        for name, fn in fns.items():
            ent: dict = {"budget": BUDGET}
            for key, d in (("sf1", args.sf1), ("sf3", args.sf3)):
                ent[key] = _time_query(
                    spark,
                    lambda fn=fn, d=d: fn(
                        spark, d, max_candidate_pairs=BUDGET,
                        on_over_budget="drop",
                    ),
                )
                print(name, key, ent[key], flush=True)
            ent["warm_ratio_sf3_over_sf1"] = round(
                ent["sf3"]["warm"] / ent["sf1"]["warm"], 2
            )
            ent["implied_exponent"] = round(
                math.log(ent["warm_ratio_sf3_over_sf1"]) / math.log(3), 2
            )
            unb = art["queries"][name]
            ent["unguarded_warm_ratio"] = unb["warm_ratio_sf3_over_sf1"]
            ent["unguarded_exponent"] = unb["implied_exponent"]
            fam[name] = ent
            # persist incrementally: a crashed later leg keeps earlier ones
            Path(args.artifact).write_text(json.dumps(art, indent=1) + "\n")
        print(json.dumps({
            n: {"guarded_exponent": e["implied_exponent"],
                "unguarded_exponent": e["unguarded_exponent"]}
            for n, e in fam.items() if n != "note"
        }))
        return

    if args.ppjoin:
        # ppjoin-ONLY leg: preserve the committed ngram numbers and add
        # the "ppjoin" sub-section to the existing pair_budget_guard
        out = art["pair_budget_guard"]
        ratio = out["warm_ratio_sf3_over_sf1"]
    else:
        out = {
            "budget": BUDGET,
            "query_shape": "ngram_jaccard_pairs(n=3, threshold=0.35, "
                           f"max_candidate_pairs={BUDGET}) — registry "
                           "shape + guard",
        }
        for key, d in (("sf1", args.sf1), ("sf3", args.sf3)):
            out[key] = _time_query(
                spark,
                lambda d=d: ngram_jaccard_pairs(
                    _docs(spark, d), n=3, threshold=0.35,
                    max_candidate_pairs=BUDGET,
                ),
            )
            out[key] |= _kept_pair_sum(spark, d)
            print(key, out[key], flush=True)

        ratio = round(out["sf3"]["warm"] / out["sf1"]["warm"], 2)
        out["warm_ratio_sf3_over_sf1"] = ratio
        out["implied_exponent"] = round(math.log(ratio) / math.log(3), 2)
        out["unguarded_warm_ratio"] = round(
            base["sf3"]["warm"] / base["sf1"]["warm"], 2
        )
        out["unguarded_exponent"] = base["implied_exponent"]
        art["pair_budget_guard"] = out

    if args.ppjoin:
        # The r13 curve could not measure ppjoin's sf3 leg at all: the
        # UNGUARDED candidate join's sort-spill exceeded the box's ~40 GB
        # free disk (BENCH_SCALE_CURVE.json memory_findings). The budget
        # bounds exactly that stage, so the guarded run should COMPLETE
        # where the unguarded one died — recorded here as the
        # previously-unmeasurable third point. on_over_budget='drop' is
        # the documented degraded mode (pairs exactly verified,
        # completeness only within kept prefix keys).
        from aos_spark.llm.setjoin import ppjoin_pairs

        pj: dict = {
            "budget": PPJOIN_BUDGET,
            "query_shape": "ppjoin_pairs(n=3, threshold=0.5, "
                           f"max_candidate_pairs={PPJOIN_BUDGET}, "
                           "on_over_budget='drop')",
            "unguarded_sf3": "DNF — spill > free disk (r13 "
                             "memory_findings); measured at sf2 instead",
        }
        for key, d in (("sf1", args.sf1), ("sf3", args.sf3)):
            pj[key] = _time_query(
                spark,
                lambda d=d: ppjoin_pairs(
                    _docs(spark, d), n=3, threshold=0.5,
                    max_candidate_pairs=PPJOIN_BUDGET,
                    on_over_budget="drop",
                ),
            )
            pj[key]["n_pairs"] = ppjoin_pairs(
                _docs(spark, d), n=3, threshold=0.5,
                max_candidate_pairs=PPJOIN_BUDGET, on_over_budget="drop",
            ).count()
            release_tracked()
            spark.catalog.clearCache()
            print("ppjoin", key, pj[key], flush=True)
        pj["warm_ratio_sf3_over_sf1"] = round(
            pj["sf3"]["warm"] / pj["sf1"]["warm"], 2
        )
        pj["implied_exponent"] = round(
            math.log(pj["warm_ratio_sf3_over_sf1"]) / math.log(3), 2
        )
        art["pair_budget_guard"]["ppjoin"] = pj

    Path(args.artifact).write_text(json.dumps(art, indent=1) + "\n")
    print(json.dumps({"guarded_ratio": ratio,
                      "guarded_exponent": out["implied_exponent"],
                      "unguarded_exponent": base["implied_exponent"]}))


if __name__ == "__main__":
    main()
