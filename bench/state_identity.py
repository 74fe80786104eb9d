"""Serialized sketch states of every build entry point, hashed, for
byte-identity checks between two versions of the package.

    PYTHONPATH=<tree> python bench/state_identity.py dump OUT.json [--work DIR]
    python bench/state_identity.py compare BASE.json BASE2.json NEW.json

``dump`` writes a fixed input table (1500 generated conversations) to
``DIR/input.parquet`` unless it is already there, reads it back, runs
the map and group builds, ``tree_merge`` under and over the driver
threshold, ``windowed_sketches`` and ``rollup_windows``,
``grouped_sketch_states``, and ``run_with_lineage`` /
``run_windowed_with_lineage`` fresh and after a crash and resume, and
records (row_count, sha256 of the state, n) per output state.
``wall_time_s`` is not recorded.

``compare`` checks NEW against BASE: HLL, CMS, Bloom, BottomK and
Misra-Gries states must be byte-identical; KLL and t-digest states must
be byte-identical wherever BASE and BASE2 (two runs of the same tree)
agree, and must keep the same ``n`` elsewhere.  Exits 1 on a mismatch.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

EXACT = ("hll", "cms", "bloom", "bk", "mg")


def _specs():
    from associationabacminer_spark.operators.agg import NULL_SENTINEL, SketchSpec
    from associationabacminer_spark.sketch import (
        BloomFilter,
        BottomK,
        CountMinSketch,
        HyperLogLog,
        KLL,
        MisraGries,
        TDigest,
    )

    return [
        SketchSpec("hll_conv", HyperLogLog, "conv_id", kernel_cls=HyperLogLog, prehash=True),
        SketchSpec(
            "cms_tool", lambda: CountMinSketch(width=2048, depth=5), "tool",
            kernel_cls=CountMinSketch, prehash=True,
        ),
        SketchSpec(
            "cms_tool_h", lambda: CountMinSketch(width=512, depth=3), "tool_h",
            kernel_cls=CountMinSketch, null_value=NULL_SENTINEL,
        ),
        SketchSpec("kll_len", lambda: KLL(k=100), "text_len", kernel_cls=KLL),
        SketchSpec("td_latency", lambda: TDigest(delta=100), "latency_s", kernel_cls=TDigest),
        SketchSpec(
            "bloom_conv", lambda: BloomFilter.from_capacity(50_000, 0.01), "conv_id",
            kernel_cls=BloomFilter, prehash=True,
        ),
        SketchSpec("bk_conv", lambda: BottomK(k=128), "conv_id", kernel_cls=BottomK, prehash=True),
        SketchSpec("mg_tool", lambda: MisraGries(k=8), "tool", kernel_cls=MisraGries, prehash=True),
    ]


def _input(spark, work):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from associationabacminer_spark.operators.agg import NULL_SENTINEL
    from associationabacminer_spark.sources.transcripts import generate_transcripts

    path = os.path.join(work, "input.parquet")
    if not os.path.exists(path):
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        ts = F.col("ts").cast("timestamp").cast("double")
        (
            generate_transcripts(spark, n_convs=1500, seed=11, num_partitions=8)
            .select(
                "conv_id",
                "tool",
                F.when(F.col("tool").isNotNull(), F.xxhash64("tool"))
                .otherwise(F.lit(NULL_SENTINEL))
                .alias("tool_h"),
                F.length("text").cast("double").alias("text_len"),
                (ts - F.lag(ts).over(w)).alias("latency_s"),
                F.col("ts").cast("timestamp").alias("ts"),
            )
            .repartition(8, "conv_id")
            .sortWithinPartitions("conv_id", "ts")
            .write.parquet(path)
        )
    return spark.read.parquet(path)


def _state(name, blob, specs):
    cls = next(s.kernel_cls for s in specs if s.name == name)
    k = cls.deserialize(bytes(blob))
    return {"sha": hashlib.sha256(bytes(blob)).hexdigest(), "n": int(getattr(k, "n", -1))}


def _rows(rows, key, specs):
    out = {}
    for r in rows:
        d = _state(r["sketch_name"], r["sketch"], specs)
        d["rows"] = int(r["row_count"])
        out["|".join(str(r[k]) for k in key)] = d
    return out


def _merged(kernels, specs):
    return {n: _state(n, k.serialize(), specs) for n, k in kernels.items()}


def dump(out_path, work):
    from pyspark.sql import functions as F

    from associationabacminer_spark.operators.agg import (
        build_sketches,
        sketch_aggregate,
        tree_merge,
    )
    from associationabacminer_spark.operators.windowed_sketch import (
        grouped_sketch_states,
        rollup_windows,
        run_windowed_with_lineage,
        windowed_sketches,
    )
    from associationabacminer_spark.plans.lineage import run_with_lineage
    from associationabacminer_spark.session import get_spark

    os.makedirs(work, exist_ok=True)
    spark = get_spark(
        app_name="state-identity", cores=2, shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    df = _input(spark, work)
    specs = _specs()
    res = {}
    gkey = ("group_id", "sketch_name")
    wkey = ("window_start", "sketch_name")

    mapped = build_sketches(df, specs, method="map").cache()
    res["map_build"] = _rows(mapped.collect(), gkey, specs)
    res["tree_merge_map"] = _merged(tree_merge(mapped, specs), specs)
    grouped = build_sketches(df, specs, num_groups=16, method="group")
    res["group_build_16"] = _rows(grouped.collect(), gkey, specs)
    wide = build_sketches(df, specs, num_groups=130, method="group").cache()
    res["group_build_130"] = _rows(wide.collect(), gkey, specs)
    res["tree_merge_130"] = _merged(tree_merge(wide, specs, n_states=130), specs)
    res["sketch_aggregate_group_130"] = _merged(
        sketch_aggregate(df, specs, num_groups=130, method="group"), specs
    )

    daily = windowed_sketches(df, specs, "ts", "1 day", "1 day", salts=4).cache()
    res["windowed_daily"] = _rows(daily.collect(), wkey, specs)
    res["windowed_sliding"] = _rows(
        windowed_sketches(df, specs, "ts", "3 days", "1 day", salts=4).collect(), wkey, specs
    )
    res["rollup_7d"] = _rows(rollup_windows(daily, specs, 7).collect(), wkey, specs)
    res["grouped_states"] = _rows(
        grouped_sketch_states(df, "tool", specs, salts=4).collect(), ("group", "sketch_name"), specs
    )

    ledgers = os.path.join(work, "ledgers")
    shutil.rmtree(ledgers, ignore_errors=True)
    res["lineage_fresh"] = _merged(
        run_with_lineage(df, specs, os.path.join(ledgers, "fresh"), 16, run_id="a"), specs
    )
    crashed = os.path.join(ledgers, "crashed")
    build_sketches(df, specs, num_groups=16, method="group").filter(
        F.col("group_id") < 8
    ).withColumn("run_id", F.lit("crash")).write.parquet(os.path.join(crashed, "build"))
    res["lineage_resumed"] = _merged(run_with_lineage(df, specs, crashed, 16, run_id="b"), specs)

    res["windowed_lineage_fresh"] = _rows(
        run_windowed_with_lineage(df, specs, os.path.join(ledgers, "wfresh"), "ts", "1 day", salts=4).collect(),
        wkey, specs,
    )
    wcrashed = os.path.join(ledgers, "wcrashed")
    first_ts = df.agg(F.min("ts")).collect()[0][0]
    early = df.filter(F.col("ts") < F.lit(first_ts) + F.expr("INTERVAL 12 DAYS"))
    run_windowed_with_lineage(early, specs, wcrashed, "ts", "1 day", salts=4).collect()
    res["windowed_lineage_resumed"] = _rows(
        run_windowed_with_lineage(df, specs, wcrashed, "ts", "1 day", salts=4).collect(), wkey, specs
    )
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(f"{out_path}: {sum(len(v) for v in res.values())} states in {len(res)} entry points")


def compare(base_path, base2_path, new_path) -> int:
    base, base2, new = (json.load(open(p)) for p in (base_path, base2_path, new_path))
    bad = 0
    counts = {"identical": 0, "same_n": 0}
    for entry, states in base.items():
        got = new.get(entry, {})
        if set(got) != set(states):
            print(f"{entry}: state keys differ")
            bad += 1
            continue
        for key, want in states.items():
            have = got[key]
            exact = key.split("|")[-1].split("_")[0] in EXACT
            stable = base2.get(entry, {}).get(key) == want
            if have.get("rows") != want.get("rows") or have["n"] != want["n"]:
                print(f"{entry} {key}: rows/n {have} != {want}")
                bad += 1
            elif have["sha"] == want["sha"]:
                counts["identical"] += 1
            elif exact or stable:
                print(f"{entry} {key}: state bytes differ")
                bad += 1
            else:
                counts["same_n"] += 1
    unstable = sum(
        1 for e, s in base.items() for k, v in s.items() if base2.get(e, {}).get(k) != v
    )
    print(
        f"{counts['identical']} states byte-identical, {counts['same_n']} order-sensitive "
        f"states with the same n (the two base runs differ on {unstable}), {bad} mismatches"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "dump":
        work = sys.argv[sys.argv.index("--work") + 1] if "--work" in sys.argv else ".state_identity"
        dump(sys.argv[2], work)
    else:
        sys.exit(compare(*sys.argv[2:5]))
