"""Spot-verify registry queries against their DuckDB oracles at sf1.

The pytest gate pins sf0.001 + sf0.01; this runs the SAME engine-vs-
oracle comparison at the locally derived sf1 (scripts/make_bigdata.py)
for every query whose oracle SQL is tractable for DuckDB at 6M-row
scale — proof that correctness holds at the size the benchmarks run,
not just at test size. Writes CORRECTNESS_SF1.json.

Usage: python scripts/verify_sf1.py [sf_dir] [out_json]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from website_traffic_etl_gcp_spark import plans
from website_traffic_etl_gcp_spark.session import get_spark

# Round 10: ZERO exclusions. Queries whose ORACLE SQL is a
# quadratic-ish pairwise/recursive-closure shape DuckDB cannot run
# over 50k documents (never an engine limit — the Spark side is
# df-capped/logarithmic and runs at sf1) are swept
# against a DETERMINISTIC MOD-K SAMPLE of the sf1 documents table
# instead: the FRAME shrinks, the query and its oracle stay
# byte-identical, so both engines still must agree exactly at a
# 10×-test-SF document count. This is the part_name_fuzzy_pairs
# precedent (its oracle samples part names mod-k inside the query);
# here the sampling lives in the sweep harness so the query text
# stays unchanged.
SF1_SAMPLED = {
    # exact-Jaccard / pairwise-similarity truth SQL: the oracle
    # generates candidate PAIRS
    "dedup_ngram_jaccard": "pairwise exact-Jaccard oracle",
    "dedup_jaccard_dfcap": "pairwise exact-Jaccard oracle",
    "dedup_containment_pairs": "pairwise containment oracle",
    "dedup_simhash": "pairwise hamming oracle",
    "dedup_minhash_lsh": "pairwise band-join oracle",
    "dedup_ensemble_pairs": "union of three pairwise oracles",
    "minhash_quality_eval": "pairwise precision/recall truth",
    "simhash_quality_eval": "pairwise precision/recall truth",
    "winnow_quality_eval": "pairwise precision/recall truth",
    "dup_graph_degree_stats": "pairwise edge-set oracle",
    "dup_graph_pagerank": "iterative pagerank over pairwise edges",
    # recursive-CTE connected components over the pair tier
    "dedup_clusters": "recursive closure over pairwise edges",
    "dedup_keep_list": "recursive closure over pairwise edges",
    "dedup_keep_best": "recursive closure over pairwise edges",
    "dedup_incremental_clusters": "recursive closure over pairwise edges",
}

SAMPLE_MOD = 10  # keep doc_id % 10 == 0 → 5k of the 50k sf1 documents

SF1_QUERIES = [n for n in plans.REGISTRY if n not in SF1_SAMPLED]
SAMPLED_QUERIES = [n for n in plans.REGISTRY if n in SF1_SAMPLED]

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def frame_hash(df):
    df = df[sorted(df.columns)].round(6)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest(), len(df)


def _table_pattern(sf_dir: str, t: str) -> str:
    p = os.path.join(sf_dir, f"{t}.parquet")
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def build_sample_dir(sf_dir: str, con) -> str:
    """A derived frame next to ``sf_dir``: documents filtered to
    ``doc_id % SAMPLE_MOD == 0`` (deterministic — both engines see the
    identical subset), every other table symlinked unchanged."""
    sample_dir = sf_dir.rstrip("/") + f"_docmod{SAMPLE_MOD}"
    marker = os.path.join(sample_dir, ".complete")
    if os.path.exists(marker):
        return sample_dir
    os.makedirs(sample_dir, exist_ok=True)
    con.execute(
        f"COPY (SELECT * FROM read_parquet("
        f"'{_table_pattern(sf_dir, 'documents')}') "
        f"WHERE doc_id % {SAMPLE_MOD} = 0 ORDER BY doc_id) TO "
        f"'{os.path.join(sample_dir, 'documents.parquet')}' "
        f"(FORMAT PARQUET)"
    )
    for t in TABLES:
        if t == "documents":
            continue
        dst = os.path.join(sample_dir, f"{t}.parquet")
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(dst) and os.path.exists(src):
            os.symlink(os.path.abspath(src), dst)
    open(marker, "w").write("ok")
    return sample_dir


def run_one(spark, con, spec, sf_dir):
    t0 = time.perf_counter()
    sh, sn = frame_hash(spec.builder(spark, sf_dir).toPandas())
    oh, on = frame_hash(con.execute(spec.oracle).df())
    # queries persist() intermediates and never unpersist (the frame
    # dies with the query in production); across a 70+-query single-
    # boot sweep at sf10 the accumulated partitions starve the unified
    # pool until a later query OOMs the 8g driver (r13: the bus-drain
    # trio died this way at query 70). Same reason the decade harness
    # clears between runs; each query re-persists what it needs.
    spark.catalog.clearCache()
    return {
        "rows": sn,
        "oracle_rows": on,
        "hash_match": sh == oh and sn == on,
        "sec": round(time.perf_counter() - t0, 1),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bigdata", "sf1",
    )
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CORRECTNESS_SF1.json",
    )
    spark = get_spark("verify-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        # driver-shipped tables are single files; Spark-derived sf1
        # tables are directories of part files
        p = os.path.join(sf_dir, f"{t}.parquet")
        pat = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
        )

    results: dict[str, dict] = {}
    failed = 0
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    for name in SF1_QUERIES:
        if only and name not in only:
            continue
        try:
            results[name] = run_one(spark, con, plans.REGISTRY[name], sf_dir)
            ok = results[name]["hash_match"]
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            ok = False
            results[name] = {"error": str(e)[:300]}
        if not ok:
            failed += 1
        print(f"{name}: {'OK' if ok else 'FAIL'} {results[name]}", flush=True)

    # pairwise/closure families: identical query + oracle over the
    # deterministic documents mod-sample (frame change, not query
    # change — see SF1_SAMPLED note)
    sample_dir = build_sample_dir(sf_dir, con)
    con2 = duckdb.connect()
    for t in TABLES:
        con2.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{_table_pattern(sample_dir, t)}')"
        )
    for name in SAMPLED_QUERIES:
        if only and name not in only:
            continue
        try:
            results[name] = run_one(
                spark, con2, plans.REGISTRY[name], sample_dir
            )
            results[name]["frame"] = (
                f"sf1 documents doc_id%{SAMPLE_MOD}==0 "
                f"({SF1_SAMPLED[name]})"
            )
            ok = results[name]["hash_match"]
        except Exception as e:  # noqa: BLE001
            ok = False
            results[name] = {"error": str(e)[:300]}
        if not ok:
            failed += 1
        print(f"{name}: {'OK' if ok else 'FAIL'} {results[name]}", flush=True)

    # an `only` run MERGES into the existing artifact (late-landing
    # queries appended without re-running the whole sweep); a full run
    # replaces it wholesale
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f).get("results", {})
        prior.update(results)
        results = prior
        failed = sum(
            1 for r in results.values() if not r.get("hash_match", False)
        )

    n_total = len(results)
    with open(out_path, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "n_queries": n_total,
             "n_sampled_frame": len(
                 [n for n in results if n in SF1_SAMPLED]
             ),
             "sample_mod": SAMPLE_MOD,
             "n_failed": failed, "results": results},
            f, indent=1, sort_keys=True,
        )
    print(f"{n_total - failed}/{n_total} matched -> {out_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
