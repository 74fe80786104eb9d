"""Sub-stage decomposition of the MinHash-LSH dedup stage + controlled
exact_dedup timing (round-5 VERDICT items 1 and 3).

Times the three sub-stages of ``minhash_lsh_dedup`` — signatures,
banded candidate generation, exact Jaccard re-check — by the
CUMULATIVE-PREFIX method: each measurement materializes one more
pipeline suffix on an uncached lineage, so

    t_signatures = T(sigs)
    t_banding    = T(candidates) - T(sigs)
    t_recheck    = T(full)       - T(candidates)

No caching of the 59M-row signature frame is needed (32 GB+ at the big
rung, hostile to the sandbox disk quota); the deltas charge each
sub-stage its own cost because every run re-executes the same prefix.

A single-core CPU control sample (the bench.py burn) runs before and
after every measurement so a throttled host window is visible IN the
record — the established attribution recipe (healthy band on this box:
~700-800 units/s).

Usage:
    SPARK_DRIVER_MEM=48g PYTHONPATH=/root/repo python \
        bench/minhash_stages.py --input /root/repo/.synth/scaling_59M \
        [--method oph] [--skip-exact-dedup] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# the repository root, for bench.py's CPU control
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import cpu_control_sample as control  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--method", default="oph", choices=["oph", "classic"])
    ap.add_argument("--num-perm", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--skip-exact-dedup", action="store_true",
                    help="run minhash over the raw docs (no uniq pass)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from associationabacminer_spark.operators import dedup
    from associationabacminer_spark.session import get_spark

    spark = get_spark(app_name="minhash-stages", cores=32)
    spark.sparkContext.setLogLevel("ERROR")

    raw = spark.read.parquet(args.input)
    if "doc_id" in raw.columns:
        docs = raw.select("doc_id", "text")
    else:
        docs = raw.select(
            F.xxhash64(F.concat_ws("#", "conv_id", "turn_idx")).alias("doc_id"),
            F.col("text"),
        )
    rec: dict = {"input": args.input, "method": args.method,
                 "controls": {}, "stages": {}}

    def measure(name: str, action) -> float:
        c0 = control()
        t0 = time.monotonic()
        n = action()
        dt = round(time.monotonic() - t0, 1)
        c1 = control()
        rec["stages"][name] = {"rows": int(n), "sec": dt}
        rec["controls"][name] = [c0, c1]
        print(json.dumps({name: rec["stages"][name],
                          "controls": [c0, c1]}), flush=True)
        return dt

    n_input = docs.count()
    rec["input_rows"] = int(n_input)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(max(32, n_input // 400_000))
    )

    if args.skip_exact_dedup:
        uniq = docs
    else:
        # item 3: exact_dedup with controls bracketing the measurement —
        # the r04 final ladder read this stage at 7.46x its earlier
        # same-code time; this pins whether that was host variance
        uniq = dedup.exact_dedup(docs, "text", "doc_id").cache()
        measure("exact_dedup", uniq.count)

    if args.method == "oph":
        sigs = dedup.minhash_signatures_oph(
            uniq, "text", "doc_id", num_buckets=args.num_perm, n=3
        )
    else:
        sigs = dedup.minhash_signatures(
            uniq, "text", "doc_id", num_perm=args.num_perm, n=3
        )
    t_sig = measure("signatures", sigs.count)

    cands = dedup.lsh_candidate_pairs(
        sigs, bands=args.bands, rows_per_band=args.num_perm // args.bands
    )
    t_cand = measure("sig_plus_banding", cands.count)

    full = dedup.minhash_lsh_dedup(
        uniq, "text", "doc_id", num_perm=args.num_perm, bands=args.bands,
        n=3, threshold=args.threshold, method=args.method,
    )
    t_full = measure("full_pipeline", full.count)

    rec["decomposition"] = {
        "signatures_sec": t_sig,
        "banding_sec": round(t_cand - t_sig, 1),
        "recheck_sec": round(t_full - t_cand, 1),
        "total_sec": t_full,
    }
    print(json.dumps(rec), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(json.dumps(rec) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
