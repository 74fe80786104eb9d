"""One-measurement-per-JVM stage probe for the 59M evidence runs
(round-5 VERDICT items 1-3).

The round-4 decomposition attempt ran all cumulative-prefix
measurements in ONE JVM: shuffle files accumulated across
materializations and the run died on the sandbox disk quota, and the
`exact_dedup` reading (387.7 s) bundled an uncached parquet scan plus a
49M-row cache write into the measured action.  This probe fixes both:

* every invocation is ONE measurement in a fresh JVM — shuffle dirs are
  wiped when the process exits, so disk usage is bounded by the largest
  single stage, not the sum;
* the measured action is exactly the stage's own count — cache writes
  are either excluded (``exact_plain``) or replicated faithfully from
  the ladder composition (``exact_ladder``) so the two readings
  attribute the earlier discrepancy;
* a single-core CPU control sample runs before the Spark work, right
  after the measured count returns, and after ``spark.stop()`` so a
  throttled host window is visible IN the record (healthy band on this
  box: ~700-900 units/s, see BENCH/BASELINE.md).

MinHash sub-stages use the CUMULATIVE-PREFIX method over a pre-written
exact-deduped parquet (``prep_uniq``):

    t_signatures = T(signatures)
    t_banding    = T(banding) - T(signatures)
    t_recheck    = T(full)    - T(banding)

Usage (one stage per process; append JSON lines to --out):
    PYTHONPATH=/root/repo SPARK_DRIVER_MEM=48g python bench/stage_probe.py \
        signatures --input .synth/scaling_59M_uniq --out .synth/stage_probe_r05.jsonl
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

STAGES = (
    "prep_uniq", "exact_ladder", "exact_plain", "ingest",
    "signatures", "banding", "full", "decontaminate",
    "decontaminate_nobloom", "spans", "lm", "mix",
    "paragraphs", "dsir", "source_overlap",
)


def _consuming_count(df, cols):
    """A count action that cannot be gutted by the optimizer: sums the
    payload ``cols`` alongside the row count, so column pruning can't
    drop the aggregate expressions and left-join elimination can't
    remove the unique-key model joins feeding them."""
    from pyspark.sql import functions as F

    def run():
        row = df.agg(
            F.count(F.lit(1)).alias("__n__"),
            *[F.sum(F.abs(F.col(c))).alias(f"__s_{c}__") for c in cols],
        ).first()
        return row["__n__"]

    return run


def load_docs(spark, path: str):
    from pyspark.sql import functions as F

    raw = spark.read.parquet(path)
    if "doc_id" in raw.columns:
        return raw.select("doc_id", "text")
    return raw.select(
        F.xxhash64(F.concat_ws("#", "conv_id", "turn_idx")).alias("doc_id"),
        F.col("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("stage", choices=STAGES)
    ap.add_argument("--input", required=True)
    ap.add_argument("--uniq-out", default=None, help="prep_uniq target dir")
    ap.add_argument("--num-perm", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument(
        "--densify", choices=["minrehash", "optimal"], default="minrehash",
        help="densification mode for the signatures stage (cost A/B: the "
             "optimal donor-probe loop vs the single min-rehash fill)",
    )
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="override the input-scaled default (banding shuffles "
             "bands x docs rows, so its sorts spill at the doc-scaled "
             "partition count)",
    )
    ap.add_argument(
        "--metrics", action="store_true",
        help="enable the Spark UI and record total shuffle read/write "
             "bytes from its REST API (the cluster-relevant cost a "
             "local-disk wall clock hides)",
    )
    args = ap.parse_args()

    from associationabacminer_spark.operators import dedup
    from associationabacminer_spark.operators.decontaminate import decontaminate_train
    from associationabacminer_spark.session import get_spark

    c_pre = control()
    extra = {"spark.ui.enabled": "true"} if args.metrics else None
    spark = get_spark(
        app_name=f"stage-probe-{args.stage}", cores=32, extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_docs(spark, args.input)
    n_input = docs.count()
    # production partitioning: same input-scaled rule as the ladder
    n_parts = args.shuffle_partitions or max(32, n_input // 400_000)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))

    rec: dict = {"stage": args.stage, "input": args.input,
                 "input_rows": int(n_input), "shuffle_partitions": n_parts}

    if args.stage == "prep_uniq":
        t0 = time.monotonic()
        dedup.exact_dedup(docs, "text", "doc_id").write.mode(
            "overwrite"
        ).parquet(args.uniq_out)
        rec["sec"] = round(time.monotonic() - t0, 1)
        rec["controls"] = [c_pre]
        spark.stop()
        print(json.dumps(rec), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
        return

    if args.stage == "exact_ladder":
        # faithful ladder composition: docs cached + counted first, then
        # exact_dedup materialized INTO a cache
        docs = docs.cache()
        s = time.monotonic()
        docs.count()
        rec["input_cache_sec"] = round(time.monotonic() - s, 1)
        target = dedup.exact_dedup(docs, "text", "doc_id").cache()
        action = target.count
    elif args.stage == "exact_plain":
        # pure operator + scan: no caches anywhere in the lineage
        action = dedup.exact_dedup(docs, "text", "doc_id").count
    elif args.stage == "signatures":
        action = dedup.minhash_signatures_oph(
            docs, "text", "doc_id", num_buckets=args.num_perm, n=3,
            densify=args.densify,
        ).count
    elif args.stage == "banding":
        sigs = dedup.minhash_signatures_oph(
            docs, "text", "doc_id", num_buckets=args.num_perm, n=3
        )
        action = dedup.lsh_candidate_pairs(
            sigs, bands=args.bands,
            rows_per_band=args.num_perm // args.bands,
        ).count
    elif args.stage == "full":
        action = dedup.minhash_lsh_dedup(
            docs, "text", "doc_id", num_perm=args.num_perm,
            bands=args.bands, n=3, threshold=args.threshold, method="oph",
        ).count
    elif args.stage == "spans":
        # substring-level duplicate spans (Lee et al. k-window member);
        # k=8 whitespace tokens ~ the corpus' short-doc regime
        action = dedup.duplicated_spans(docs, "text", "doc_id", k=8).count
    elif args.stage == "ingest":
        # incremental ingest: store = 90% of the corpus (hash split),
        # batch = the other 10% remapped so every doc is 1/3 exact
        # recrawl, 1/3 near-dup (one appended token), 1/3 genuinely new
        # (unique id token appended) — all store-probe paths exercised.
        # Timed separately: store build+materialize vs the ingest run
        # (the steady-state cost a daily pipeline pays).
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.ingest import (
            dedup_store_build,
            incremental_ingest,
        )

        store_docs = docs
        # batch = a 10% sample OF THE STORE re-presented as a new crawl:
        # ids remapped by rehash (an additive offset overflows —
        # load_docs derives doc_id from xxhash64, full long range), and
        # per-doc mode making 1/3 exact recrawls, 1/3 near-dups (one
        # appended token), 1/3 genuinely-new content (8 md5 tokens —
        # zero shingle overlap with anything in the store)
        seed = docs.filter(F.pmod(F.xxhash64("doc_id", F.lit(2)), F.lit(10)) == 0)
        mode = F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(3))
        batch = seed.select(
            F.xxhash64("doc_id", F.lit(7)).alias("doc_id"),
            F.when(mode == 0, F.col("text"))
            .when(mode == 1, F.concat(F.col("text"), F.lit(" probetok")))
            .otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.md5(F.concat(F.col("text"), F.lit(str(i))))
                        for i in range(8)
                    ],
                )
            )
            .alias("text"),
        )
        t0 = time.monotonic()
        store = {
            k: v.localCheckpoint()
            for k, v in dedup_store_build(store_docs, "text", "doc_id").items()
        }
        rec["store_build_sec"] = round(time.monotonic() - t0, 1)
        rec["store_docs"] = int(store["sigs"].count())
        rec["batch_rows"] = int(batch.count())
        action = incremental_ingest(
            batch, store, "text", "doc_id", threshold=0.5
        ).count
    elif args.stage == "lm":
        # CCNet-style bigram cross-entropy, self-trained model.
        # NOT .count(): on an aggregate output Catalyst prunes the avg
        # columns under count() and then ELIMINATES the unique-key left
        # joins outright — a bare count measures a plan with no model
        # joins at all (verified via optimizedPlan; the pre-fix lm
        # readings in BENCH/BASELINE.md are annotated as undercounts).
        from associationabacminer_spark.operators.lm import bigram_lm_scores

        action = _consuming_count(
            bigram_lm_scores(docs, "text", "doc_id"), ["xent"]
        )
    elif args.stage == "mix":
        # token-budget mixture over a derived 16-way source split;
        # budget ~38% of the corpus tokens so the boundary cut engages
        from pyspark.sql import functions as F

        from associationabacminer_spark.functions.text import token_count
        from associationabacminer_spark.operators.sampling import token_budget_mix

        tagged = docs.select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("string").alias("source"),
            token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        weights = {str(i): 1.0 for i in range(16)}
        action = token_budget_mix(
            tagged, "source", "doc_id", "n_tok", int(n_input * 5),
            weights=weights, pre_buckets=64,
        ).count
    elif args.stage == "paragraphs":
        # CCNet paragraph-hash boilerplate scrub over 12-token-chunked
        # text (the q9g chunking — transcript turns have no newlines);
        # chunking is a chained projection so the token array stays a
        # bound attribute (the transform-inlining trap)
        from pyspark.sql import functions as F

        tokd = docs.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks__")
        )
        chunks = F.transform(
            F.sequence(
                F.lit(0).cast("long"), F.floor((F.size("__toks__") - 1) / 12.0)
            ),
            lambda i: F.array_join(
                F.slice(F.col("__toks__"), i * 12 + 1, 12), " "
            ),
        )
        pdoc = tokd.select("doc_id", F.array_join(chunks, "\n").alias("text"))
        out = dedup.scrub_common_paragraphs(pdoc, "text", "doc_id", min_df=2)
        # force the rebuilt text + scrub counters (see the lm stage note)
        action = _consuming_count(
            out.select(F.length("text").alias("tl"), "n_scrubbed"),
            ["tl", "n_scrubbed"],
        )
    elif args.stage == "dsir":
        # DSIR importance weights: target = the deterministic 20% slice
        # hash(doc_id) % 5 == 0 (two bigram-LM passes + one id join)
        from associationabacminer_spark.operators.lm import dsir_logratio
        from pyspark.sql import functions as F

        target = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0)
        action = _consuming_count(
            dsir_logratio(docs, "text", "doc_id", target), ["logw"]
        )
    elif args.stage == "source_overlap":
        # cross-source 5-gram overlap matrix over a derived 16-way
        # source split (the mix stage's split); output is <= 120 pairs,
        # so the consuming count trivially covers the payload
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.decontaminate import (
            source_overlap_matrix,
        )

        tagged = docs.select(
            "text",
            F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("string").alias("source"),
        )
        action = _consuming_count(
            source_overlap_matrix(tagged, "text", "source", n=5),
            ["n_shared", "jaccard"],
        )
    elif args.stage in ("decontaminate", "decontaminate_nobloom"):
        # ladder composition: heldout = doc_id % 7 == 0 of the cleaned
        # pool (at the 59M rung clean == uniq, measured round 4);
        # the _nobloom twin disables the round-5 Bloom prefilter for a
        # same-window A/B of the eval-side semi-filter
        heldout = docs.filter(docs.doc_id % 7 == 0)
        pool = docs.filter(docs.doc_id % 7 != 0)
        fpp = None if args.stage.endswith("nobloom") else 0.01
        action = decontaminate_train(
            pool, heldout, "text", "doc_id", n=5, bloom_fpp=fpp
        ).count

    c0 = control()
    t0 = time.monotonic()
    n_out = action()
    rec["sec"] = round(time.monotonic() - t0, 1)
    c1 = control()
    rec["rows"] = int(n_out)
    if args.metrics:
        try:
            import urllib.request

            base = "http://localhost:4040/api/v1/applications"
            apps = json.load(urllib.request.urlopen(base, timeout=10))
            app_id = apps[0]["id"]
            stages = json.load(urllib.request.urlopen(
                f"{base}/{app_id}/stages?status=complete", timeout=10
            ))
            rec["shuffle_write_mb"] = round(
                sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6, 1
            )
            rec["shuffle_read_mb"] = round(
                sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6, 1
            )
            rec["input_mb"] = round(
                sum(s.get("inputBytes", 0) for s in stages) / 1e6, 1
            )
        except Exception as e:  # metrics are best-effort
            rec["metrics_err"] = str(e)
    spark.stop()
    c2 = control()
    rec["controls"] = {"pre_spark": c_pre, "pre": c0,
                       "post_count": c1, "post_stop": c2}
    print(json.dumps(rec), flush=True)
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
